package kgbench

/** The benchmark's fixed settings. README.md records them with their
 *  reasons; floors.json is stamped with the generator settings it was
 *  recorded for. */
object Settings {
  /** local[Cores], shuffle partitions = Cores. */
  val Cores = 4
  /** A run times at least this many jobs, however long they take ... */
  val MinJobs = 3
  /** ... and stops starting new jobs after this many seconds. */
  val MaxLoopSeconds = 60.0
  /** Crash-and-resume builds timed after the jobs (`resume_s` is their
   *  median). */
  val Resumes = 1
  /** Checked warm-up jobs before timing starts (charged to set-up). */
  val WarmupJobs = Map("recrawl_update" -> 4, "hot_entity_build" -> 2)
  /** Pages of the single-thread per-call loop of the traced run. */
  val CallSamplePages = 200

  val Recrawl = Crawls.Recrawl(n = 2400, pDeleted = 0.02, pChanged = 0.02, newFraction = 0.01)
  val Hot = Crawls.Hot(n = 9600, stories = 48, zipfS = 1.0, hotShare = 0.85, variantShare = 0.3)
}
