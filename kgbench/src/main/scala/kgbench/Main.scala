package kgbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

/** Benchmark entry point (normally launched by kgbench/run.py):
 *
 *    kgbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
 *                 --work <dir> --out <dir> --floors <floors.json>
 *
 *  One JVM, `local[Settings.Cores]`, shuffle partitions = cores, one job at
 *  a time (a closed loop with one client). After set-up, jobs run back to
 *  back until `seconds` have passed and at least `Settings.MinJobs` jobs are
 *  done. The last stdout line is the result object, its metrics a plain
 *  name → value map (run.py adds the units from BENCHMARK.json); lines
 *  before it are for people.
 */
object Main {

  final case class JobRec(wall: Double, cpu: Double, shuffleMb: Double,
                          heapMb: Double, failure: Option[String])

  def main(args: Array[String]): Unit = {
    val opts = parse(args.toList)
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath.toString

    val spark = Ctx.session(s"kgbench-$workload",
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
      "spark.local.dir" -> s"$work/spark-local",
      "spark.sql.warehouse.dir" -> s"$work/warehouse")
    val sc = spark.sparkContext
    val listener = new GroupListener
    sc.addSparkListener(listener)

    val c = new Ctx(spark, work, seed)
    c.mark("session started")
    val w: Workload = workload match {
      case "recrawl_update" => new RecrawlUpdate(c)
      case "hot_entity_build" =>
        new HotEntityBuild(c, Floors.load(opt("floors"), workload, seed))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    c.mark("inputs generated")
    w.setup()
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    def more(done: Int) =
      elapsed < Settings.MaxLoopSeconds && (elapsed < seconds || done < Settings.MinJobs)

    /** One untraced job with its check. */
    def untraced(k: Int): (JobRec, TaskTotals) = {
      HeapPeak.reset()
      val group = s"job-$k"
      sc.setJobGroup(group, s"kgbench $workload job $k")
      val s0 = System.nanoTime()
      val ran = try { w.job(k); None } catch { case NonFatal(e) => Some(s"job $k threw $e") }
      val wall = (System.nanoTime() - s0) / 1e9
      sc.clearJobGroup()
      val totals = listener.take(sc, group)
      val heap = HeapPeak.riseBytes / 1e6
      c.release()
      val checked = ran.orElse(try w.check(k) catch { case NonFatal(e) => Some(s"check threw $e") })
      w.cleanup(k)
      (JobRec(wall, totals.cpuNs / 1e9, totals.shuffleWriteBytes / 1e6, heap, checked), totals)
    }

    val recs = mutable.ArrayBuffer[JobRec]()
    val result: (Map[String, Double], Long, Long) =
      if (!trace) {
        var k = 0
        while (more(recs.size)) { recs += untraced(k)._1; k += 1 }
        val loopS = elapsed
        // the resumes run after the timed jobs, so that none of them
        // disturbs a timed job (a job right after a resume ran slower)
        val resumeRuns = (1 to Settings.Resumes).map { _ =>
          try w.resume() catch { case NonFatal(e) => (0.0, Some(s"resume threw $e")) }
        }
        val resumes = resumeRuns.collect { case (sec, None) => sec }
        val failures = recs.flatMap(_.failure) ++ resumeRuns.flatMap(_._2)
        resumeRuns.flatMap(_._2).foreach(f => println(s"[kgbench] failure: $f"))
        val ok = recs.filter(_.failure.isEmpty)
        val walls = recs.map(_.wall).toSeq
        // the tail is printed, not reported: a run has fewer than 11 jobs,
        // so no percentile has 10 samples beyond it and the stand-in (the
        // slowest job) spreads wider across runs than any bound allowed
        val (pct, tailS) = Stats.tail(walls).getOrElse(100 -> walls.max)
        println(f"[kgbench] $workload seed=$seed jobs=${recs.size} failed=${recs.size - ok.size} " +
          f"pages/job=${w.pagesPerJob} loop=$loopS%.1fs resumes=${resumes.size}")
        println(walls.map(x => f"$x%.3f").mkString("[kgbench] job wall s: ", " ", ""))
        println(recs.map(r => f"${r.heapMb}%.1f").mkString("[kgbench] job heap peak MB: ", " ", ""))
        println(resumes.map(x => f"$x%.3f").mkString("[kgbench] resume s: ", " ", ""))
        println(f"[kgbench] job_s_tail (p$pct of ${walls.size} jobs) $tailS%.4f s")
        def med(f: JobRec => Double) = Stats.median(recs.toSeq.map(f))
        (Map(
          "setup_s" -> setupS,
          "pages_per_s" -> med(r => w.pagesPerJob / r.wall),
          "task_cpu_s" -> med(_.cpu),
          "shuffle_mb" -> med(_.shuffleMb),
          "heap_peak_mb" -> med(_.heapMb),
          "resume_s" -> (if (resumes.isEmpty) 0.0 else Stats.median(resumes))),
          (recs.size + resumeRuns.size).toLong, failures.size.toLong)
      } else {
        // traced run: untraced and traced jobs alternate, so the overhead of
        // tracing is measured on the same process and inputs
        val tr = new Tracer(sc, listener)
        val calls = Calls.metrics(w.sample.take(Settings.CallSamplePages), 3)
        val sparkJob = mutable.ArrayBuffer[Map[String, Double]]()
        val layers = mutable.ArrayBuffer[Map[String, Double]]()
        val tracedRate = mutable.ArrayBuffer[Double]()
        var failures = 0L
        var k = 0
        while (more(math.min(recs.size, layers.size) * 2)) {
          val (rec, totals) = untraced(k)
          recs += rec
          sparkJob += Layers.ofSparkJob(totals)
          k += 1
          tr.job = k
          w.counts.clear()
          val bad = try w.traced(k, tr) catch { case NonFatal(e) => Some(s"traced job $k threw $e") }
          bad.foreach(f => System.err.println(s"[kgbench] $f"))
          if (bad.isDefined) failures += 1
          val jobSpan = tr.spans.filter(s => s.job == k && s.name == "job")
          tracedRate ++= jobSpan.map(s => w.pagesPerJob / (s.durNs / 1e9))
          layers += Layers.ofJob(tr, k, w.counts, w.written(k))
          w.cleanup(k)
          k += 1
        }
        val out = opt("out")
        Files.createDirectories(Paths.get(out))
        val spanFile = Paths.get(out, s"spans-$workload-seed$seed.jsonl")
        Files.write(spanFile, tr.toJsonLines.mkString("", "\n", "\n").getBytes("UTF-8"))
        println(s"[kgbench] $workload seed=$seed traced jobs=${layers.size} " +
          s"untraced jobs=${recs.size} spans=${tr.spans.size} -> $spanFile")
        val untracedRate = Stats.median(recs.map(r => w.pagesPerJob / r.wall).toSeq)
        val traceRate = Stats.median(tracedRate.toSeq)
        val per = layers.toSeq ++ sparkJob.toSeq
        (per.flatMap(_.keys).distinct.map(k => k -> Stats.median(per.flatMap(_.get(k)))).toMap ++
          calls ++ Seq("trace.pages_per_s" -> traceRate,
            "trace.overhead_ratio" -> untracedRate / traceRate),
          (recs.size + layers.size).toLong,
          recs.count(_.failure.isDefined).toLong + failures)
      }

    val (metrics, attempted, failedJobs) = result
    recs.flatMap(_.failure).take(5).foreach(f => println(s"[kgbench] failure: $f"))
    w.setupFailures.foreach(f => println(s"[kgbench] set-up failure: $f"))
    val correct = failedJobs == 0 && w.setupFailures.isEmpty && attempted > 0
    spark.stop()
    println(Json.obj(
      "correct" -> correct, "attempted" -> attempted, "failed" -> failedJobs,
      "metrics" -> metrics))
  }

  private def parse(args: List[String], acc: Map[String, String] = Map.empty): Map[String, String] =
    args match {
      case Nil => acc
      case flag :: v :: rest if flag.startsWith("--") => parse(rest, acc + (flag.drop(2) -> v))
      case other => throw new IllegalArgumentException(s"bad arguments: $other")
    }
}
