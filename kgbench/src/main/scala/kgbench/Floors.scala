package kgbench

import java.io.File
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper

import graft.pipeline.KGPipeline

/** The P/R floors the output checks hold jobs to: the P/R that the program
 *  scores on each crawl the benchmark can generate. A crawl depends on the
 *  seed only through `Crawls.base`, i.e. through seed mod 97, so 97 builds
 *  per workload cover every seed. Run on the commit whose P/R later commits
 *  must not fall below:
 *
 *    python3 kgbench/build.py floors
 *
 *  which writes kgbench/floors.json, stamped with the generator settings it
 *  was recorded for. */
object Floors {

  private val gens: Seq[(String, String, Long => Crawls.Crawl)] = Seq(
    ("hot_entity_build", Settings.Hot.toString, seed => Crawls.hot(seed, Settings.Hot)))

  /** (P, R) floor of `workload`'s crawl for `seed`. Fails when the file was
   *  recorded for other generator settings. */
  def load(path: String, workload: String, seed: Long): (Double, Double) = {
    val root = new ObjectMapper().readTree(new File(path))
    val stamp = gens.find(_._1 == workload).map(_._2)
      .getOrElse(throw new IllegalArgumentException(s"no floors for $workload"))
    val recorded = root.path("generator").path(workload).asText()
    require(recorded == stamp, s"$path was recorded for $workload settings $recorded, " +
      s"not $stamp; re-record it with build.py floors")
    val row = root.path("pr_by_seed_mod_97").path(workload)
      .get(math.floorMod(seed, Crawls.Residues.toLong).toInt)
    (row.get(0).asDouble, row.get(1).asDouble)
  }

  def main(args: Array[String]): Unit = {
    val Array(out) = args
    val spark = Ctx.session("kgbench-floors")
    import spark.implicits._
    val tables = gens.map { case (name, _, gen) =>
      val rows = (0 until Crawls.Residues).map { r =>
        val crawl = gen(r.toLong)
        val got = KGPipeline.run(spark, spark.createDataset(crawl.pages)).collect()
        graft.link.Linker.release()
        spark.sharedState.cacheManager.clearCache()
        val (p, rc) = Check.pr(got, crawl.gold)
        System.err.println(f"[floors] $name seed mod ${Crawls.Residues} = $r: P=$p%.6f R=$rc%.6f")
        Seq(p, rc)
      }
      name -> rows
    }
    Files.write(Paths.get(out), (Json.obj(
      "generator" -> Map(gens.map(g => g._1 -> g._2): _*),
      "pr_by_seed_mod_97" -> scala.collection.immutable.ListMap(tables: _*)) + "\n")
      .getBytes("UTF-8"))
    spark.stop()
  }
}
