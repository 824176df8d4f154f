package perfbench

import java.nio.file.{Files, Paths}
import java.sql.{Connection, DriverManager, SQLException}
import java.util.Properties
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StringType, StructType}
import graft.{Pipeline, SparkEntry, Tables}
import graft.etl.{Sanitize, Transfer}
import graft.ops.{Dedup, Ivf}
import graft.pg.{PgCatalog, SequenceSync}

/** Benchmark JVM: sets a workload up several times, runs one untimed
  * correctness pass, then runs timed passes (a closed loop: one
  * operation at a time on the driver thread) until the time budget is
  * spent, and writes the raw samples as JSON for `run.py`.
  *
  *   Harness <workload> <seed> <seconds> <trace 0|1> <dataDir> <outDir> <setupReps>
  *
  * With tracing on, passes alternate between traced and untraced, so the
  * run measures its own tracing overhead; spans and listener counts are
  * kept in memory and written to `<outDir>/trace.json` at the end. */
object Harness {

  final case class Op(name: String, run: () => Boolean)

  final case class OpSample(name: String, pass: Int, secs: Double,
      ok: Boolean, error: String)

  final case class PassSample(wall: Double, cpu: Double, traced: Boolean,
      warmup: Boolean)

  def main(argv: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, data, out, repsS) = argv
    val h = new Harness(workload, seedS.toLong, secondsS.toDouble,
      traceS == "1", data, out, repsS.toInt)
    val code = try { h.run(); 0 } catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] run failed: $e")
        e.printStackTrace()
        3
    } finally h.stop()
    System.exit(code)
  }

  /** Minimal JSON rendering for maps, sequences, strings and numbers. */
  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }
}

final class Harness(workload: String, seed: Long, seconds: Double,
    trace: Boolean, data: String, out: String, setupReps: Int) {
  import Harness._

  val nproc: Int = Runtime.getRuntime.availableProcessors()
  var spark: SparkSession = _
  val probe = new Probe
  private var current = 0L // innermost open span
  private var pass = -1    // -1 = setup, 0 = correctness pass
  private var tracing = false
  private val osBean = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]

  // per-layer counts that are not Spark events
  private val cachedMb = mutable.ArrayBuffer.empty[Double]
  private val planStats = mutable.Map[String, Long]().withDefaultValue(0L)
  private val planByOp = mutable.Map.empty[String, Map[String, Long]]
  private val keepFrac = mutable.ArrayBuffer.empty[Double]
  private val setupLayers = mutable.Map[String, Vector[Double]]().withDefaultValue(Vector.empty)

  def newSession(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.catalogImplementation", "in-memory")
      .config("spark.local.dir", s"$out/tmp/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/tmp/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    if (trace) {
      s.sparkContext.addSparkListener(probe)
      s.listenerManager.register(probe)
    }
    s
  }

  def stop(): Unit = if (spark != null) { spark.stop(); spark = null }

  /** Run `f` as one call into layer `layer`: a span when tracing. */
  def call[A](layer: String)(f: => A): A =
    if (!tracing) f
    else {
      val span = probe.open(current, "layer", layer, pass)
      val (prev, prevProp) = (current, spark.sparkContext.getLocalProperty(probe.SpanKey))
      current = span.id
      spark.sparkContext.setLocalProperty(probe.SpanKey, span.id.toString)
      try f finally {
        span.close()
        current = prev
        spark.sparkContext.setLocalProperty(probe.SpanKey, prevProp)
      }
    }

  /** Time a setup step, kept per repetition under `metric`. */
  def setupStep[A](metric: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    setupLayers(metric) = setupLayers(metric) :+ (System.nanoTime() - t0) / 1e9
    r
  }

  def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Release the engine's per-query persists, as every driver does
    * between queries; with tracing, sample what was cached first. */
  def drain(): Unit = call("dedup.drain") {
    if (tracing) cachedMb += spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1048576.0
    Dedup.unpersistCaches()
  }

  /** Build and materialize one registered query; with tracing, force and
    * inspect its physical plan first. */
  def queryOp(name: String): Op = Op(name, () => {
    val df = call("ops.build") { SparkEntry.queries(name)(spark, data) }
    if (tracing) {
      val plan = call("plan.force") { df.queryExecution.executedPlan }
      val stats = Map("exchanges" -> Probe.count(plan)(Probe.isExchange),
        "native" -> Probe.exprCount(plan)(Probe.isNative),
        "lambda" -> Probe.exprCount(plan)(Probe.isLambda))
      stats.foreach { case (k, v) => planStats(k) += v }
      planByOp(name) = stats
    }
    call("ops.materialize") { materialize(df) }
    true
  })

  /** Gate face of a query: dump its result where tools/check.py reads it. */
  def dumpQuery(name: String, failures: mutable.Map[String, String]): Unit = {
    try SparkEntry.queries(name)(spark, data).coalesce(1).write
      .mode("overwrite").parquet(s"$out/verify/$name")
    catch { case NonFatal(e) => failures(name) = String.valueOf(e.getMessage).take(500) }
    Dedup.unpersistCaches()
  }

  def writeVerifyIndex(failures: collection.Map[String, String]): Unit = {
    Files.createDirectories(Paths.get(s"$out/verify"))
    Files.writeString(Paths.get(s"$out/verify/oracle_sql.json"), json(SparkEntry.oracleSql))
    Files.writeString(Paths.get(s"$out/verify/failures.json"), json(failures))
  }

  def shuffled[A](xs: Seq[A], p: Int): Seq[A] =
    new scala.util.Random(seed * 1000003L + p).shuffle(xs)

  // ---------------------------------------------------------------- workloads

  trait Workload {
    def setup(rep: Int): Unit
    /** Untimed correctness pass; returns the names of wrong results. */
    def gate(): (Int, Seq[String], Map[String, Any])
    def ops(p: Int): Seq[Op]
    def afterPass(p: Int): Unit = ()
    def unitsPerPass: Long
  }

  final class Relational extends Workload {
    val queries = Seq("q01_pricing_summary", "q06_join_equi", "q17_cube",
      "q20_window_rank", "q45_sql_subqueries", "q70_join_bucketed")
    def setup(rep: Int): Unit =
      setupStep("tables.layout_build_s") { Tables.bucketedFacts(spark, data) }
    def gate(): (Int, Seq[String], Map[String, Any]) = {
      val failures = mutable.LinkedHashMap[String, String]()
      queries.foreach(dumpQuery(_, failures))
      writeVerifyIndex(failures)
      (queries.size, failures.keys.toSeq, Map("queries" -> queries))
    }
    def ops(p: Int): Seq[Op] = shuffled(queries, p).map(queryOp)
    def unitsPerPass: Long = Seq("lineitem", "orders", "customer", "part",
      "supplier", "nation", "region").map(t => Tables(spark, data, t).count()).sum
  }

  final class Corpus extends Workload {
    val queries = Seq("q71_ivf_search", "q126_setsim_join", "q183_cdc_chunks",
      "q259_setsim_preflight")
    var expected: Pipeline.CurationReport = _
    def setup(rep: Int): Unit = {
      graft.functions.GraftFunctions.register(spark)
      setupStep("ivf.index_build_s") { Ivf.deterministicIndex(spark, data) }
      setupStep("setsim.index_build_s") {
        Dedup.persistedSetSimIndex(spark, data, "docs", Tables.documents _)
        Dedup.unpersistCaches()
      }
    }
    def curate(): Pipeline.CurationReport = {
      val (curated, report) = call("pipeline.curate") {
        Pipeline.curate(Tables.documents(spark, data))
      }
      call("pipeline.write") {
        curated.write.mode("overwrite").parquet(s"$out/tmp/curated")
      }
      report
    }
    def gate(): (Int, Seq[String], Map[String, Any]) = {
      val failures = mutable.LinkedHashMap[String, String]()
      queries.foreach(dumpQuery(_, failures))
      writeVerifyIndex(failures)
      expected = curate()
      val funnel = Map("input" -> expected.input,
        "after_quality" -> expected.afterQuality,
        "after_exact" -> expected.afterExact,
        "after_near" -> expected.afterNear,
        "after_sample" -> expected.afterSample)
      (queries.size + 1, failures.keys.toSeq,
        Map("queries" -> queries, "funnel" -> funnel))
    }
    def ops(p: Int): Seq[Op] = shuffled(
      queries.map(queryOp) :+ Op("pipeline_curate", () => {
        val r = curate()
        if (tracing) keepFrac += r.afterSample.toDouble / r.input
        r == expected
      }), p)
    def unitsPerPass: Long = Tables.documents(spark, data).count()
  }

  /** The reference's job: migrate every table of a JDBC source database
    * to a fresh JDBC target, checking each table's checksum. */
  final class TransferWl extends Workload {
    val star = Seq("region" -> "r_regionkey", "nation" -> "n_nationkey",
      "customer" -> "c_custkey", "supplier" -> "s_suppkey",
      "part" -> "p_partkey", "orders" -> "o_orderkey", "lineitem" -> "l_orderkey")
    val Events = "ANALYTICS_ANALYTICSEVENT"
    val props = { val p = new Properties()
      p.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver"); p }
    var srcUrl = ""
    // table -> (partition column, lower, upper, rows)
    var bounds = Map.empty[String, (String, Long, Long, Long)]
    var sums = Map.empty[String, (Long, java.math.BigDecimal)]
    var srcConn: Connection = _

    private def dropDb(url: String): Unit =
      try DriverManager.getConnection(url.replace(";create=true", "") + ";drop=true")
      catch { case _: SQLException => () } // Derby signals a dropped database this way

    def setup(rep: Int): Unit = {
      if (srcConn != null) { srcConn.close(); dropDb(srcUrl) }
      srcUrl = s"jdbc:derby:memory:perfbench_src$rep;create=true"
      srcConn = DriverManager.getConnection(srcUrl)
      setupStep("transfer.source_load_s") {
        star.foreach { case (t, _) =>
          Transfer.writeJdbc(Tables(spark, data, t), srcUrl, t.toUpperCase, props)
        }
        // nullable text is CLOB: Spark's Derby dialect binds string nulls
        // as CLOB, which Derby refuses for a VARCHAR column
        srcConn.createStatement().executeUpdate(
          s"""CREATE TABLE $Events (
             |  ID BIGINT NOT NULL GENERATED BY DEFAULT AS IDENTITY PRIMARY KEY,
             |  CREATED TIMESTAMP NOT NULL, MODIFIED TIMESTAMP NOT NULL,
             |  NAME VARCHAR(255) NOT NULL, SENT_AT TIMESTAMP NOT NULL,
             |  ORGANIZATION_ID BIGINT, SCHOOL_ID BIGINT, USER_ID BIGINT NOT NULL,
             |  USER_IP CLOB, IDENTIFY CLOB, PROPERTIES CLOB,
             |  SYNCED_WITH_POSTHOG BOOLEAN NOT NULL DEFAULT FALSE,
             |  LAST_LOCAL_MODIFIED_AT TIMESTAMP)""".stripMargin)
        Transfer.writeJdbc(sanitizedEvents(), srcUrl, Events, props)
      }
      bounds = (star.map { case (t, k) => (t.toUpperCase, k) } :+ (Events -> "ID"))
        .map { case (t, k) =>
          val rs = srcConn.createStatement().executeQuery(
            s"""SELECT MIN("$k"), MAX("$k"), COUNT(*) FROM $t""")
          rs.next()
          val b = (k, rs.getLong(1), rs.getLong(2), rs.getLong(3))
          rs.close()
          t -> b
        }.toMap
    }

    /** The reference's `analytics_analyticsevent` rows (FIXTURES.md
      * section A), with JSON text canonicalized and foreign keys coerced
      * by the engine's sanitization layer. */
    def sanitizedEvents(): DataFrame = {
      val raw = spark.read.parquet(s"$data/analytics_event_raw.parquet")
      val props = StructType.fromDDL("page STRING, ms BIGINT, tags ARRAY<STRING>")
      Sanitize.fillNulls(raw
        .withColumn("identify", Sanitize.canonicalJson(col("identify"),
          MapType(StringType, StringType)))
        .withColumn("properties", Sanitize.canonicalJson(col("properties"), props))
        .withColumn("organization_id", Sanitize.toLongOrNull(col("organization_id")))
        .withColumn("school_id", Sanitize.toLongOrNull(col("school_id"))),
        Map("synced_with_posthog" -> false))
    }

    def read(url: String, t: String): DataFrame = {
      val (k, lo, hi, _) = bounds(t)
      Transfer.readJdbcPartitioned(spark, url, t, k, lo, hi + 1, nproc, props)
    }

    def checksum(df: DataFrame): (Long, java.math.BigDecimal) = {
      val r = df.agg(count(lit(1)),
        coalesce(sum(xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
          .cast("decimal(38,0)")), lit(0).cast("decimal(38,0)"))).head()
      (r.getLong(0), r.getDecimal(1))
    }

    def gate(): (Int, Seq[String], Map[String, Any]) = {
      sums = bounds.keys.map(t => t -> checksum(read(srcUrl, t))).toMap
      val gateOps = ops(0)
      val wrong = gateOps.flatMap { op =>
        val ok = try op.run() catch { case NonFatal(e) =>
          System.err.println(s"[perfbench] ${op.name}: $e"); false }
        if (ok) None else Some(op.name)
      }
      afterPass(0)
      (gateOps.size, wrong, Map("checksums" -> sums.map { case (t, (n, s)) =>
        t -> Map("rows" -> n, "hash_sum" -> s.toString) }))
    }

    private def targetUrl(p: Int) = s"jdbc:derby:memory:perfbench_tgt$p;create=true"

    def ops(p: Int): Seq[Op] = {
      val tgt = targetUrl(p)
      val back = mutable.Map.empty[String, DataFrame]
      val list = Op("pg.list", () => call("pg.reflect") {
        PgCatalog.listTables(srcConn, Some("APP")).toSet == bounds.keySet
      })
      list +: shuffled(bounds.keys.toSeq.sorted, p).flatMap { t =>
        val (k, _, hi, rows) = bounds(t)
        Seq(
          Op(s"reflect:$t", () => call("pg.reflect") {
            PgCatalog.tableMeta(srcConn, Some("APP"), t).columns.nonEmpty
          }),
          Op(s"load:$t", () => call("transfer.load") {
            val df = read(srcUrl, t)
            df.limit(0).write.mode("append").jdbc(tgt, t, props)
            Transfer.atomicLoad(df, tgt, t, props,
              () => DriverManager.getConnection(tgt))
            true
          }),
          Op(s"readback:$t", () => call("transfer.read") {
            back(t) = read(tgt, t)
            checksum(back(t)) == sums(t)
          }),
          Op(s"seqsync:$t", () => call("pg.seq_sync") {
            SequenceSync.maxId(back(t), k) == (if (rows == 0) -1L else hi)
          }))
      }
    }

    override def afterPass(p: Int): Unit = dropDb(targetUrl(p))

    def unitsPerPass: Long = bounds.values.map(_._4).sum
  }

  // ---------------------------------------------------------------- driver

  def run(): Unit = {
    Files.createDirectories(Paths.get(s"$out/tmp"))
    System.setProperty("derby.stream.error.file", s"$out/tmp/derby.log")
    val w: Workload = workload match {
      case "transfer" => new TransferWl
      case "relational" => new Relational
      case "corpus" => new Corpus
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // set-up from scratch, several times: fresh session, fresh artifact
    // root (every engine artifact defaults under java.io.tmpdir)
    val setupTimes = (1 to setupReps).map { rep =>
      stop()
      val root = s"$out/tmp/artifacts$rep"
      Files.createDirectories(Paths.get(root))
      System.setProperty("java.io.tmpdir", root)
      val t0 = System.nanoTime()
      spark = newSession()
      w.setup(rep)
      (System.nanoTime() - t0) / 1e9
    }
    pass = 0
    val gateT0 = System.nanoTime()
    val (gateOps, wrong, gateInfo) = w.gate()
    val gateSecs = (System.nanoTime() - gateT0) / 1e9
    val units = w.unitsPerPass

    val passes = mutable.ArrayBuffer.empty[PassSample]
    val samples = mutable.ArrayBuffer.empty[OpSample]
    val cpu0 = osBean.getProcessCpuTime
    val t0 = System.nanoTime()
    var p = 1
    // whole passes until the budget is spent. Pass 1 still carries JIT
    // warm-up (every operation runs ~40% slower than in pass 2), so it
    // is recorded but not summarized. Every run summarizes at least two
    // passes; a traced run alternates traced and untraced passes.
    while ((System.nanoTime() - t0) / 1e9 < seconds || p <= 3) {
      pass = p
      tracing = trace && p % 2 == 0
      Probe.traced = tracing
      val passSpan = probe.open(0, "pass", s"pass$p", p)
      val c0 = osBean.getProcessCpuTime
      w.ops(p).foreach { op =>
        val span = probe.open(passSpan.id, "op", op.name, p)
        current = span.id
        if (tracing) spark.sparkContext.setLocalProperty(probe.SpanKey, span.id.toString)
        val (ok, err) =
          try (op.run(), "") catch { case NonFatal(e) => (false, e.toString.take(300)) }
        span.close()
        spark.sparkContext.setLocalProperty(probe.SpanKey, null)
        current = passSpan.id
        samples += OpSample(op.name, p, span.secs, ok, err)
        if (!ok) System.err.println(s"[perfbench] ${op.name} failed in pass $p $err")
        drain()
      }
      w.afterPass(p)
      passSpan.close()
      passes += PassSample(passSpan.secs, (osBean.getProcessCpuTime - c0) / 1e9,
        tracing, warmup = p == 1)
      if (tracing) probe.settle()
      tracing = false
      Probe.traced = false
      p += 1
    }
    val windowCpu = (osBean.getProcessCpuTime - cpu0) / 1e9
    if (trace) probe.settle()

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "nproc" -> nproc,
      "setup_s" -> setupTimes,
      "setup_layers" -> setupLayers.toMap,
      "gate" -> Map("ops" -> gateOps, "wrong" -> wrong, "info" -> gateInfo),
      "gate_s" -> gateSecs,
      "units_per_pass" -> units,
      "passes" -> passes.map(s => Map("wall_s" -> s.wall, "cpu_s" -> s.cpu,
        "traced" -> s.traced, "warmup" -> s.warmup)),
      "ops" -> samples.map(s => Map("name" -> s.name, "pass" -> s.pass,
        "secs" -> s.secs, "ok" -> s.ok, "error" -> s.error)),
      "window_cpu_s" -> windowCpu,
      "peak_rss_mb" -> Proc.vmHwmMb())
    if (trace) {
      result("layers") = new Layers(probe, passes.toSeq, cachedMb.toSeq,
        planStats.toMap, keepFrac.toSeq, setupLayers.toMap).metrics
        .map { case (k, (v, unit)) => k -> Map("value" -> v, "unit" -> unit) }
      Files.writeString(Paths.get(s"$out/trace.json"),
        Layers.traceJson(probe, planByOp.toMap))
    }
    Files.writeString(Paths.get(s"$out/result.json"), json(result))
  }
}

object Proc {
  /** Peak resident set of this process (VmHWM), in MiB. */
  def vmHwmMb(): Double = {
    val lines = new String(Files.readAllBytes(Paths.get("/proc/self/status")), "UTF-8")
    lines.split("\n").find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(-1.0)
  }
}
