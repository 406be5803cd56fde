package kgbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.io.TableIO
import graft.link.Linker
import graft.model.{Page, SlotFill, Triple}
import graft.pipeline.KGPipeline

/** One workload: set-up (untimed), the timed job, its output check, the
 *  crash-and-resume of a checkpointed build of the same crawl, and the
 *  traced form of the job. Job k owns the scratch state named after k;
 *  warm-up jobs have k < 0. */
abstract class Workload(val c: Ctx) {
  /** Failures found while setting up (counted against correctness). */
  val setupFailures = mutable.ArrayBuffer[String]()
  /** Layer counts of the traced job that just ran. */
  val counts = mutable.LinkedHashMap[String, Double]()

  def pagesPerJob: Long
  def setup(): Unit
  def job(k: Int): Unit
  def check(k: Int): Option[String]
  def resume(): (Double, Option[String])
  def cleanup(k: Int): Unit = Ctx.delete(root(k))
  def traced(k: Int, tr: Tracer): Option[String]
  /** Pages for the single-thread per-call loop. */
  def sample: Seq[Page]

  protected def root(k: Int): String = s"${c.work}/job-$k"

  /** (bytes, files) job k committed to its TableIO root. */
  def written(k: Int): (Long, Long) = Ctx.usage(root(k))

  /** Warm-up jobs (excluded from timing, charged to set-up): the JIT and
   *  Spark's generated code settle over the first few jobs of a JVM. */
  protected def warmUp(name: String): Unit =
    for (k <- -1 to -Settings.WarmupJobs(name) by -1) {
      val t0 = System.nanoTime()
      job(k)
      println(f"[kgbench] warm-up job $k: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      c.release()
      check(k).foreach(f => setupFailures += s"warm-up job: $f")
      cleanup(k)
    }

  // ---- traced composition: one span per layer call, each layer's output
  // materialized (local checkpoint) before the next layer is called, so
  // layers that Spark would fuse into one stage are timed apart.

  protected def mat[T](ds: Dataset[T]): Dataset[T] = ds.localCheckpoint(eager = true)

  /** Row counts for the layer record run in a span of their own, which no
   *  layer owns, so they never add to a layer's self time. */
  protected def cnt(tr: Tracer, ds: Dataset[_]): Double = tr.span("count")(ds.count().toDouble)

  private def storedBytes: Long =
    c.spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** Commits a stage through TableIO and reads the snapshot back, as the
   *  recrawl job does. */
  protected def ioStage(tr: Tracer, io: TableIO, table: String, df: DataFrame,
                        parts: Seq[String] = Nil): DataFrame = {
    val back = tr.span("io.write")(io.write(table, df, parts))
    tr.span("io.read")(mat(back))
  }

  /** bags → link → triples over the raw fills. */
  protected def tail(tr: Tracer, raw: Dataset[SlotFill]): Dataset[Triple] = {
    import c.spark.implicits._
    counts("bags.fills_in") = cnt(tr, raw)
    val gated = tr.span("bags") {
      val merged = mat(KGPipeline.aggregateBags(c.spark, raw))
      counts("bags.bags_out") = cnt(tr, merged)
      mat(KGPipeline.yThenNoisyOrGate(c.spark, merged))
    }
    counts("bags.gate_kept") = cnt(tr, gated)
    counts("link.names") = {
      val df = gated.toDF()
      cnt(tr, df.select($"subj".as("n"), $"subj_type".as("t"))
        .union(df.filter($"obj_type".isin("PERSON", "ORGANIZATION"))
          .select($"obj".as("n"), $"obj_type".as("t")))
        .distinct())
    }
    val linked = tr.span("link") {
      val before = storedBytes
      val canon = Linker.canonicalize(c.spark, gated)
      counts("link.cached_mb") = (storedBytes - before) / 1e6
      counts("link.alias_pairs") = Linker.lastPairCount.toDouble
      counts("link.aliases") = Linker.lastAliasCount.toDouble
      mat(KGPipeline.symmetricExpand(c.spark, canon))
    }
    val groups = tr.span("count")(linked.groupBy($"subj").count()
      .agg(count(lit(1)), max($"count")).head())
    counts("consistency.groups") = groups.getLong(0).toDouble
    counts("consistency.max_group_rows") = groups.getLong(1).toDouble
    val triples = tr.span("triples")(mat(KGPipeline.consistentTriples(c.spark, linked)))
    counts("triples.rows_out") = cnt(tr, triples)
    triples
  }

  /** sentences → fills over the pages, counted for the nlp and extract
   *  layers. */
  protected def nlpExtract(tr: Tracer, pages: Dataset[Page]): Dataset[SlotFill] = {
    import c.spark.implicits._
    counts("nlp.pages_in") = cnt(tr, pages)
    counts("nlp.admitted") =
      cnt(tr, pages.filter(p => graft.nlp.Annotator.admits(p.lang, p.text)))
    val sents = tr.span("nlp")(mat(KGPipeline.sentences(c.spark, pages)))
    counts("nlp.sentences_out") = cnt(tr, sents)
    counts("extract.candidates") =
      cnt(tr, sents.mapPartitions(_.flatMap(graft.extract.Candidates.fromSentence)))
    val fills = tr.span("extract")(mat(KGPipeline.mentionFills(c.spark, sents)))
    counts("extract.fills_out") = cnt(tr, fills)
    fills
  }
}

/** An incremental recrawl: the previous crawl's `sig` and `fills_raw` are
 *  set-up state; each job applies the same seeded next snapshot the way
 *  the batch body of `StreamIngest.recrawlLoop` does and commits its
 *  fills_raw, triples and sig through TableIO. */
final class RecrawlUpdate(c: Ctx) extends Workload(c) {
  import c.spark.implicits._
  private val prevCrawl = Crawls.uniform(c.seed, Settings.Recrawl.n)
  private val (next, planted) = Crawls.recrawl(c.seed, Settings.Recrawl)
  private var nextDir = ""
  private var prevDir = ""
  private var prevHash = ""
  private var ref = ""
  private val redo = mutable.Map[Int, Long]()
  private def prevRoot = s"${c.work}/previous"
  private lazy val prevIo = new TableIO(prevRoot, c.spark)

  def pagesPerJob: Long = next.pages.size.toLong
  def sample: Seq[Page] = next.pages

  /** The previous crawl is built by `graft.Main`: its committed fills_raw
   *  is the carried state (beside the sig table written here), and its root
   *  is the one the resume measurement crashes and finishes. The answer
   *  for every job is an in-memory full build of the next snapshot. */
  def setup(): Unit = {
    prevDir = c.stage("prev", prevCrawl.pages)
    nextDir = c.stage("next", next.pages)
    c.mark("inputs staged")
    c.mainBuild(prevDir, prevRoot)
    prevHash = Check.hash(c.committedTriples(prevRoot))
    prevIo.write("sig", KGPipeline.pageSignatures(c.pages(prevDir)))
    c.release()
    c.mark("previous crawl built")
    ref = Check.hash(KGPipeline.run(c.spark, c.pages(nextDir)).collect().toSeq)
    c.release()
    c.mark("answer built")
    warmUp("recrawl_update")
  }

  private def prevSig = prevIo.read("sig").get
  private def prevFills =
    prevIo.read("fills_raw").get.drop("_part_id", "_run_id").as[SlotFill]

  def job(k: Int): Unit = {
    val io = new TableIO(root(k), c.spark)
    val pages = c.pages(nextDir)
    val h = KGPipeline.incrementalFillsDelta(c.spark, prevSig, prevFills, pages)
    redo(k) = h.redoCount
    val raw = io.write("fills_raw", h.fills.toDF()).as[SlotFill]
    h.release()
    val bags = KGPipeline.yThenNoisyOrGate(c.spark, KGPipeline.aggregateBags(c.spark, raw))
    io.write("triples", KGPipeline.consistentTriples(c.spark,
      KGPipeline.symmetricExpand(c.spark, KGPipeline.linked(c.spark, bags))).toDF(), Seq("pred"))
    Linker.release()
    io.write("sig", KGPipeline.pageSignatures(pages))
  }

  def check(k: Int): Option[String] =
    Check.sameTriples(ref, c.committedTriples(root(k)), s"job $k").orElse(
      if (redo.get(k).contains(planted)) None
      else Some(s"job $k re-annotated ${redo.get(k)} pages, planted $planted"))

  def resume(): (Double, Option[String]) = c.crashAndResume(prevDir, prevRoot, prevHash)

  def traced(k: Int, tr: Tracer): Option[String] = {
    val io = new TableIO(root(k), c.spark)
    val pages = c.pages(nextDir)
    counts("incremental.planted") = planted.toDouble
    tr.span("job") {
      // the program's own incremental fills, materialized: the delta, the
      // reuse join and the re-annotation of the redo pages, as one plan
      val (h, raw) = tr.span("incremental") {
        val h = KGPipeline.incrementalFillsDelta(c.spark, prevSig, prevFills, pages)
        (h, mat(h.fills))
      }
      counts("incremental.redo_pages") = h.redoCount.toDouble
      // the redo pages once more, outside the incremental layer, so that
      // their annotation and extraction get nlp and extract spans of
      // their own (traced run only; the untraced job does this once)
      tr.span("recompose") {
        val redo = h.delta.filter($"status".isin("new", "changed")).select($"url")
        nlpExtract(tr, pages.join(redo, Seq("url"), "left_semi").as[Page])
      }
      counts("incremental.reused_fills") = cnt(tr, raw) - counts("extract.fills_out")
      h.release()
      val rawIn = ioStage(tr, io, "fills_raw", raw.toDF()).as[SlotFill]
      ioStage(tr, io, "triples", tail(tr, rawIn).toDF(), Seq("pred"))
      tr.span("io.write")(io.write("sig", KGPipeline.pageSignatures(pages)))
    }
    c.release()
    Check.sameTriples(ref, c.committedTriples(root(k)), s"traced job $k")
  }
}

/** A syndicated crawl with Zipf-skewed hot stories, built in memory by
 *  `KGPipeline.run(.., io = None)`. */
final class HotEntityBuild(c: Ctx, floor: (Double, Double)) extends Workload(c) {
  private val crawl = Crawls.hot(c.seed, Settings.Hot)
  private var dir = ""
  private var ref = ""
  private val rows = mutable.Map[Int, Array[Triple]]()
  private def refRoot = s"${c.work}/reference"

  def pagesPerJob: Long = crawl.pages.size.toLong
  def sample: Seq[Page] = crawl.pages

  def setup(): Unit = {
    dir = c.stage("pages", crawl.pages)
    c.mark("inputs staged")
    // a checkpointed build of the same crawl: the answer every in-memory
    // job must reproduce, and the root the resume measurement uses
    c.mainBuild(dir, refRoot)
    val built = c.committedTriples(refRoot)
    ref = Check.hash(built)
    Check.prAtLeast(built, crawl.gold, floor).foreach(f => setupFailures += s"first build: $f")
    c.release()
    c.mark("answer built")
    warmUp("hot_entity_build")
  }

  def job(k: Int): Unit = rows(k) = KGPipeline.run(c.spark, c.pages(dir)).collect()

  def check(k: Int): Option[String] = {
    val got = rows.remove(k).getOrElse(Array.empty)
    Check.sameTriples(ref, got, s"job $k").orElse(Check.prAtLeast(got, crawl.gold, floor))
  }

  override def cleanup(k: Int): Unit = rows.remove(k)

  def resume(): (Double, Option[String]) = c.crashAndResume(dir, refRoot, ref)

  def traced(k: Int, tr: Tracer): Option[String] = {
    val got = tr.span("job")(tail(tr, nlpExtract(tr, c.pages(dir))).collect())
    c.release()
    Check.sameTriples(ref, got, s"traced job $k")
  }
}
