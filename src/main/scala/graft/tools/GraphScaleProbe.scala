package graft.tools

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Triage instrument (r18): separate CORES from SHUFFLE PARTITIONS for
  * the iterative graph keys' anti-scaling signal (sf10/sf30 probe:
  * parts_bfs_hops 6× slower on local[32]/32 parts than local[8]/8).
  * Runs one key under (master, partitions) combos in ONE JVM per combo
  * is impossible — master is fixed per JVM — so this varies PARTITIONS
  * only; the cores axis comes from running the tool under different
  * SPARK_GRAFT_CPUS. Usage: runMain graft.tools.GraphScaleProbe <key> <parts,parts,...>
  */
object GraphScaleProbe {
  def main(args: Array[String]): Unit = {
    val key = args.headOption.getOrElse(sys.error("usage: <key> <parts,..>"))
    val partList = args.lift(1).getOrElse("32,8").split(',').map(_.trim)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/repo/testdata_scaled/sf30")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .withExtensions(graft.plans.GraftExtensions.apply)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fn = graft.SparkEntry.queries(key)
    // Warm-up only: a failure here is reported, and the timed runs
    // below still surface it if it persists.
    try { fn(spark, sfDir).count(); () } catch {
      case NonFatal(e) => System.err.println(s"[gprobe] $key warm-up failed: $e")
    }
    graft.ext.Frames.freeSessionState(spark)
    partList.foreach { p =>
      spark.conf.set("spark.sql.shuffle.partitions", p)
      val ts = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val s = (System.nanoTime() - t0) / 1e9
        graft.ext.Frames.freeSessionState(spark)
        s
      }
      println(f"[gprobe] $key cpus=$cpus parts=$p reps=${ts.map(t => f"$t%.2f").mkString(",")}")
    }
    spark.stop()
  }
}
