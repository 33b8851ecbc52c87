package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, input_file_name}

import graft.engine.MapReduce

/** Closed-loop, one-client harness for one benchmark run. perfbench/run.py
  * prepares the inputs, starts this main, and checks and scores the raw
  * record it writes (`<out>/run.json`).
  *
  * Arguments are `name=value` pairs:
  *   kind=queries|mr, inputs=<dir>, out=<dir>, passes=<n>, trace=0|1,
  *   cpus=<n>, keys=<k1,k2,...> (kind=queries).
  *
  * A run is: set-up (JVM start, session build, input resolution, then one
  * untimed warm-up pass that executes every item once), then `passes`
  * measured passes over the items (twice as many with trace=1).
  * Each execution builds a fresh DataFrame from the operator call and
  * materialises every output column (`collect`, or the sorted text sink
  * for the typed MapReduce jobs); only that is timed. Session clean-up,
  * listener drain and the result hash follow, untimed. With trace=1 the
  * passes alternate untraced and traced; traced passes attach the
  * listeners of [[Probe]], force `executedPlan` in its own span and
  * record spans.
  */
object Main {

  /** One item of a pass: a SparkEntry key, or one MapReduce job. `run`
    * is the timed part; the thunk it returns inspects the result after
    * the clock has stopped. */
  final case class Item(name: String, run: Ctx => (() => Outcome))

  /** What one execution produced, for the untimed result check. */
  final case class Outcome(hash: String, rows: Long, plan: Map[String, Double],
      sink: Map[String, Double] = Map.empty, ref: Option[(Array[Row],
        org.apache.spark.sql.types.StructType)] = None)

  final class Ctx(val spark: SparkSession, val exec: String, val traced: Boolean,
      val spans: Spans) {
    def phase(p: String): Unit = spark.sparkContext.setLocalProperty(Probe.PhaseProp, p)
    def span[T](name: String)(body: => T): T = spans(name, exec)(body)
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    def sinceStartS: Double = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val bootS = sinceStartS
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val kind = opt("kind")
    val inputs = opt("inputs")
    val out = Paths.get(opt("out"))
    val passes = opt("passes").toInt.max(1)
    val trace = opt("trace") == "1"
    val cpus = opt("cpus").toInt
    Files.createDirectories(out)

    // ---- set-up: session build and input resolution
    val spark = session(cpus, out)
    if (kind == "queries")
      graft.Tables.names.foreach(t => graft.Tables(spark, inputs, t).schema)
    val sessionS = sinceStartS - bootS
    val sc = spark.sparkContext
    val items: Seq[Item] =
      if (kind == "queries") queryItems(opt("keys").split(',').toSeq, inputs)
      else mrItems(corpusFiles(inputs), out.resolve("sink"))

    val probe = new Probe
    val spans = new Spans(trace)
    val refs = scala.collection.mutable.LinkedHashMap.empty[String, Map[String, Any]]
    val execs = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    val passRecs = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]

    def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)

    /** One execution of one item; returns (seconds timed, record). */
    def execute(item: Item, pass: Int, traced: Boolean): (Double, Map[String, Any]) = {
      val id = s"${item.name}#$pass"
      spans("execution", id)(executeIn(item, pass, traced, id))
    }
    def executeIn(item: Item, pass: Int, traced: Boolean, id: String)
        : (Double, Map[String, Any]) = {
      sc.setLocalProperty(Probe.ExecProp, id)
      probe.current = id
      graft.streaming.Streaming.resetInitCost()
      val memo0 = graft.ext.Frames.buildCountsSnapshot.values.sum
      val ctx = new Ctx(spark, id, traced, spans)
      val t0 = System.nanoTime()
      val done = try Right(item.run(ctx))
        catch { case NonFatal(e) => Left(e.toString.take(500)) }
      val wall = (System.nanoTime() - t0) / 1e9
      val res = done.flatMap(f => try Right(f())
        catch { case NonFatal(e) => Left(e.toString.take(500)) })
      sc.setLocalProperty(Probe.ExecProp, null)
      sc.setLocalProperty(Probe.PhaseProp, null)
      val initS = graft.streaming.Streaming.initCost
      val memoBuilds = graft.ext.Frames.buildCountsSnapshot.values.sum - memo0
      PerfbenchBus.drain(sc)
      probe.current = null
      val c0 = System.nanoTime()
      spans("frames.cleanup", id)(graft.ext.Frames.freeSessionState(spark))
      val cleanupS = (System.nanoTime() - c0) / 1e9
      val stats = if (traced) probe.statsFor(id).snapshot else Map.empty[String, Double]
      val base = Map[String, Any]("id" -> id, "item" -> item.name, "pass" -> pass,
        "traced" -> traced, "wall_s" -> wall, "init_s" -> initS,
        "memo_builds" -> memoBuilds, "cleanup_s" -> cleanupS, "stats" -> stats)
      val rec = res match {
        case Left(err) => base ++ Map("ok" -> false, "error" -> err)
        case Right(o) =>
          // Reference result: the first successful execution of each item,
          // written for the oracle check; later executions must hash equal.
          if (!refs.contains(item.name)) {
            val path = out.resolve("results").resolve(item.name).toString
            o.ref.foreach { case (rows, schema) =>
              spark.createDataFrame(rows.toSeq.asJava, schema)
                .coalesce(1).write.mode("overwrite").parquet(path)
            }
            refs(item.name) = Map("hash" -> o.hash, "rows" -> o.rows, "path" -> path)
          }
          val same = refs(item.name)("hash") == o.hash
          base ++ Map("ok" -> same, "hash" -> o.hash, "rows" -> o.rows,
            "plan" -> o.plan, "sink" -> o.sink) ++
            (if (same) Map.empty else Map("error" -> "result differs from the run's first result"))
      }
      (wall, rec)
    }

    def pass(p: Int, traced: Boolean): Double = {
      if (traced) probe.attach(spark)
      heapPools.foreach(_.resetPeakUsage())
      val gc0 = gcMs
      val walls = items.map { it =>
        val (w, rec) = execute(it, p, traced)
        execs += rec
        w + rec("cleanup_s").asInstanceOf[Double]
      }
      if (traced) probe.detach(spark)
      passRecs += Map("pass" -> p, "traced" -> traced,
        "gc_s" -> (gcMs - gc0) / 1e3,
        "heap_peak_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / Probe.MB)
      walls.sum
    }

    // ---- warm-up: one untimed pass, part of set-up
    val warmupS = pass(-1, traced = false)
    val setupS = sinceStartS

    // ---- measurement: a fixed number of whole passes; with tracing,
    // untraced and traced passes alternate
    val t0 = System.nanoTime()
    spans("run", "run") {
      (0 until (if (trace) 2 * passes else passes)).foreach { p =>
        pass(p, traced = trace && p % 2 == 1)
      }
    }
    val measureS = (System.nanoTime() - t0) / 1e9

    // ---- untimed afterwards: oracle SQL, box record, calibration probe
    val oracle: Map[String, String] =
      if (kind == "queries")
        graft.SparkEntry.oracleSqlFor(spark, inputs).filter(kv => refs.contains(kv._1))
      else Map.empty
    val calib = calibrate(spark)
    val box = Map[String, Any](
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "cpus" -> cpus,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / Probe.MB,
      "spark" -> spark.version,
      "jdk" -> System.getProperty("java.version"),
      "calib_s" -> calib)
    val record = Map[String, Any](
      "setup" -> Map("setup_s" -> setupS, "boot_s" -> bootS,
        "session_s" -> sessionS, "warmup_s" -> warmupS),
      "measure_s" -> measureS, "passes" -> passRecs.toSeq, "execs" -> execs.toSeq,
      "refs" -> refs.toMap, "oracle_sql" -> oracle, "box" -> box,
      "peak_rss_mb" -> vmHwmMb, "spans" -> spans.rows)
    mapper.writeValue(out.resolve("run.json").toFile, record)
    spark.stop()
  }

  def session(cpus: Int, out: Path): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(graft.plans.GraftExtensions.apply)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def sha(lines: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    var first = true
    lines.foreach { l =>
      if (!first) md.update('\n'.toByte)
      md.update(l.getBytes(StandardCharsets.UTF_8))
      first = false
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  /** The run's own consistency hash of a collected result: rows rendered
    * by Spark and sorted, so row order does not matter. */
  def rowsHash(rows: Array[Row]): String = sha(rows.iterator.map(_.toString).toArray.sorted.iterator)

  def queryItems(keys: Seq[String], inputs: String): Seq[Item] = keys.map { k =>
    val fn = graft.SparkEntry.queries.getOrElse(k, sys.error(s"unknown key $k"))
    Item(k, { ctx =>
      ctx.phase("build")
      val df = ctx.span("entry.build")(fn(ctx.spark, inputs))
      if (ctx.traced) {
        ctx.phase("plan")
        ctx.span("catalyst.plan")(df.queryExecution.executedPlan)
      }
      ctx.phase("execute")
      val rows = ctx.span("execute")(df.collect())
      () => Outcome(rowsHash(rows), rows.length, plans(ctx, df),
        ref = Some((rows, df.schema)))
    })
  }

  private def plans(ctx: Ctx, df: DataFrame): Map[String, Double] =
    if (ctx.traced) Probe.planCounts(df.queryExecution.executedPlan) else Map.empty

  def corpusFiles(dir: String): Seq[String] =
    Files.list(Paths.get(dir)).iterator().asScala.map(_.toString)
      .filter(_.endsWith(".txt")).toSeq.sorted

  private def baseName(p: String): String = p.substring(p.lastIndexOf('/') + 1)

  /** "word n doc,doc" with every document named by its file name. */
  private def indexLine(word: String, n: String, docs: String): String =
    s"$word $n ${docs.split(',').map(baseName).mkString(",")}"

  def mrItems(files: Seq[String], sinkRoot: Path): Seq[Item] = {
    def typed(name: String, mapF: MapReduce.MapF, reduceF: MapReduce.ReduceF,
        line: String => String): Item = Item(name, { ctx =>
      val dir = sinkRoot.resolve(name)
      ctx.phase("build")
      val ds = ctx.span("entry.build")(MapReduce.runJobOnFiles(ctx.spark, files, mapF, reduceF))
      if (ctx.traced) {
        ctx.phase("plan")
        ctx.span("catalyst.plan")(ds.queryExecution.executedPlan)
      }
      ctx.phase("sink")
      ctx.span("sink")(MapReduce.sortedTextSink(ds, dir.toString))
      () => {
        val parts = Files.list(dir).iterator().asScala
          .filter(_.getFileName.toString.startsWith("part-")).toSeq
        val lines = parts.flatMap(f => Files.readAllLines(f).asScala).map(line)
        Outcome(sha(lines.sorted.iterator), lines.size, plans(ctx, ds.toDF()), Map(
          "files" -> parts.size.toDouble,
          "output_mb" -> parts.map(Files.size(_)).sum / Probe.MB))
      }
    })
    def declarative(name: String, op: DataFrame => DataFrame, line: Row => String): Item =
      Item(name, { ctx =>
        ctx.phase("build")
        val df = ctx.span("entry.build") {
          op(ctx.spark.read.option("wholetext", "true").text(files: _*)
            .select(input_file_name().as("doc_id"), col("value").as("text")))
        }
        if (ctx.traced) {
          ctx.phase("plan")
          ctx.span("catalyst.plan")(df.queryExecution.executedPlan)
        }
        ctx.phase("execute")
        val rows = ctx.span("execute")(df.collect())
        () => Outcome(sha(rows.iterator.map(line).toArray.sorted.iterator), rows.length,
          plans(ctx, df))
      })
    Seq(
      typed("mr_wc_typed", MapReduce.wcMap, MapReduce.wcReduce, identity),
      typed("mr_index_typed", MapReduce.indexerMap, MapReduce.indexerReduce, { l =>
        val Array(w, n, docs) = l.split(' ')
        indexLine(w, n, docs)
      }),
      declarative("mr_wordcount", graft.apps.MrApps.wordCount,
        r => s"${r.getString(0)} ${r.getLong(1)}"),
      declarative("mr_inverted_index", graft.apps.MrApps.invertedIndex,
        r => indexLine(r.getString(0), r.getLong(1).toString, r.getString(2))))
  }

  /** graft.Bench's fixed calibration probe: xxhash64 over a constant range
    * on one partition. One sample (graft.Bench takes the median of three);
    * recorded only, never used to rescale a metric. */
  def calibrate(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions.{lit, pmod, sum, xxhash64}
    val t0 = System.nanoTime()
    spark.range(0L, 40000000L, 1L, 1)
      .select(sum(pmod(xxhash64(col("id")), lit(997L)))).collect()
    (System.nanoTime() - t0) / 1e9
  }

  def vmHwmMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
}
