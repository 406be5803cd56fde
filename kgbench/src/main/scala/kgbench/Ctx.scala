package kgbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.io.TableIO
import graft.model.{Page, Triple}

/** What every workload shares: the session, the run's scratch directory
 *  and the seed, and the helpers that stage inputs and check outputs. */
final class Ctx(val spark: SparkSession, val work: String, val seed: Long) {
  import spark.implicits._

  val slices: Int = spark.sparkContext.defaultParallelism * 4

  /** Prints how far set-up has got, in seconds since the JVM started. */
  def mark(what: String): Unit = println(f"[kgbench] set-up: $what at ${
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%.1f s")

  /** Writes generated pages to parquet (set-up, untimed) and returns the
   *  directory, which the program then reads as a crawl table. */
  def stage(name: String, pages: Seq[Page]): String = {
    val dir = s"$work/input-$name"
    spark.createDataset(spark.sparkContext.parallelize(pages, slices))
      .write.mode("overwrite").parquet(dir)
    dir
  }

  /** The crawl table as the program's CLI reads it. */
  def pages(dir: String): Dataset[Page] =
    graft.Main.pagesOf(spark, graft.Main.Opts(pages = Some(dir)))

  /** `graft.Main`'s resumable build of a staged crawl into `root`. */
  def mainBuild(pagesDir: String, root: String): Long =
    graft.Main.runJob(spark, graft.Main.Opts(pages = Some(pagesDir),
      tables = Some(root), runId = "kgbench")).count()

  def committedTriples(root: String): Array[Triple] =
    new TableIO(root, spark).read("triples")
      .getOrElse(throw new IllegalStateException(s"no committed triples under $root"))
      .drop("_part_id", "_run_id").as[Triple].collect()

  /** Drops every cache a job may leave behind (as `graft.Bench` does
   *  between kg runs), including the benchmark's own checkpoints. */
  def release(): Unit = {
    graft.link.Linker.release()
    graft.pipeline.KGPipeline.releaseIncrementalDelta()
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Simulates a crash after every stage of a `graft.Main` build under
   *  `root` committed except `triples` (its snapshot files are written, its
   *  pointer never renamed), then times the build that finishes it. The
   *  resumed triples must hash equal to `expect`. Afterwards `root` is put
   *  back into the crashed state, so the next resume starts alike. */
  def crashAndResume(pagesDir: String, root: String, expect: String)
      : (Double, Option[String]) = {
    val table = Paths.get(root, "triples")
    Files.deleteIfExists(table.resolve("_latest"))
    val before = snapshots(table)
    val t0 = System.nanoTime()
    mainBuild(pagesDir, root)
    val sec = (System.nanoTime() - t0) / 1e9
    val bad = Check.sameTriples(expect, committedTriples(root), "resumed build")
    release()
    Files.deleteIfExists(table.resolve("_latest"))
    snapshots(table).diff(before).foreach(s => Ctx.delete(table.resolve(s)))
    (sec, bad)
  }

  private def snapshots(table: Path): Seq[String] =
    Option(table.toFile.list()).toSeq.flatten.filter(_.startsWith("snap-"))
}

object Ctx {
  /** The benchmark's session: `local[Settings.Cores]`, shuffle partitions =
   *  cores, adaptive execution on, the program's SQL extensions. */
  def session(app: String, extra: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${Settings.Cores}]")
      .appName(app)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", Settings.Cores.toString)
      .config("spark.ui.enabled", "false")
    extra.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }

  def delete(dir: String): Unit = delete(Paths.get(dir))

  /** Bytes and files under `dir`. */
  def usage(dir: String): (Long, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        val files = s.iterator.asScala.filter(Files.isRegularFile(_)).toSeq
        (files.map(Files.size).sum, files.size.toLong)
      } finally s.close()
    }
  }
}

/** Output checks. Each returns None when the output passes. */
object Check {
  type Fact = Crawls.Fact

  /** Order-independent digest of a triple set, every column included. */
  def hash(rows: Seq[Triple]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(_.productIterator.mkString("\u0001")).sorted
      .foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  def sameTriples(expect: String, rows: Seq[Triple], what: String): Option[String] = {
    val h = hash(rows)
    if (h == expect) None else Some(s"$what: triple-set hash $h != $expect")
  }

  /** Precision and recall of the (subj, pred, obj) set against the gold. */
  def pr(rows: Seq[Triple], gold: Set[Fact]): (Double, Double) = {
    val got = rows.map(t => (t.subj, t.pred, t.obj)).toSet
    val tp = got.intersect(gold).size.toDouble
    (if (got.isEmpty) 0.0 else tp / got.size, if (gold.isEmpty) 0.0 else tp / gold.size)
  }

  def prAtLeast(rows: Seq[Triple], gold: Set[Fact], floor: (Double, Double)): Option[String] = {
    val (p, r) = pr(rows, gold)
    val (floorP, floorR) = floor
    if (p >= floorP && r >= floorR) None
    else Some(f"P/R $p%.6f/$r%.6f below the recorded floor $floorP%.6f/$floorR%.6f")
  }
}
