package kgbench

import org.apache.spark.sql.SparkSession

/** The benchmark's own unit tests (run with `python3 kgbench/build.py test`):
 *  median and tail-percentile selection, span self time, and the listener's
 *  attribution of tasks to spans on a synthetic two-span job. */
object SelfTest {
  private var failed = 0

  private def check(name: String)(ok: => Boolean): Unit = {
    val pass = try ok catch { case e: Throwable => println(s"  $e"); false }
    println(s"${if (pass) "PASS" else "FAIL"} $name")
    if (!pass) failed += 1
  }

  def main(args: Array[String]): Unit = {
    check("median of odd and even counts") {
      Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0 && Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5
    }
    check("no tail percentile from 10 samples") {
      Stats.tail((1 to 10).map(_.toDouble)).isEmpty
    }
    check("11 samples: p9 is the only percentile with 10 beyond it") {
      Stats.tail((1 to 11).map(_.toDouble).reverse) == Some(9 -> 1.0)
    }
    check("100 samples: p90, 10 samples beyond it") {
      Stats.tail((1 to 100).map(_.toDouble)) == Some(90 -> 90.0)
    }
    check("200 samples: p95") {
      Stats.tail((1 to 200).map(_.toDouble)) == Some(95 -> 190.0)
    }
    check("self time subtracts the union of overlapping, clipped children") {
      Stats.selfTime(0, 100, Seq((10L, 30L), (20L, 50L), (90L, 120L))) == 50L &&
        Stats.selfTime(0, 100, Nil) == 100L &&
        Stats.selfTime(0, 100, Seq((-20L, 200L))) == 0L
    }

    val spark = SparkSession.builder().master("local[2]").appName("kgbench-selftest")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val sc = spark.sparkContext
      val listener = new GroupListener
      sc.addSparkListener(listener)
      val tr = new Tracer(sc, listener)
      tr.span("a")(sc.parallelize(1 to 30, 3).map(_ * 2).count())
      tr.span("b") {
        sc.parallelize(1 to 50, 5).map(i => (i % 7, i)).reduceByKey(_ + _, 2).count()
        tr.span("c") { Thread.sleep(200); sc.parallelize(1 to 10, 4).count() }
      }
      sc.parallelize(1 to 10, 6).count() // outside every span: charged to none
      val byName = tr.spans.map(s => s.name -> s).toMap
      val (a, b, c) = (byName("a"), byName("b"), byName("c"))
      check("tasks are charged to the innermost open span") {
        a.totals.tasks == 3 && b.totals.tasks == 5 + 2 && c.totals.tasks == 4
      }
      check("jobs and stages are charged to their span") {
        a.totals.jobs.size == 1 && b.totals.jobs.size == 1 && c.totals.jobs.size == 1 &&
          b.totals.stages.size == 2
      }
      check("shuffle bytes land on the span whose job shuffled") {
        b.totals.shuffleWriteBytes > 0 && a.totals.shuffleWriteBytes == 0 &&
          c.totals.shuffleWriteBytes == 0
      }
      check("a span's parent and self time come from its children") {
        c.parent == b.id && a.parent == -1 && tr.selfNs(b) == b.durNs - c.durNs &&
          c.durNs >= 200000000L && tr.selfNs(a) == a.durNs
      }
    } finally spark.stop()

    println(if (failed == 0) "all tests passed" else s"$failed test(s) failed")
    sys.exit(if (failed == 0) 0 else 1)
  }
}
