package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.rules.RuleExecutor

import graft.sources.ManifestTable.CommitProfile

/** One benchmark run in one JVM: build the session, set up the workload,
  * warm up, run the timed ops, and write a report for `run.py`.
  *
  * {{{
  *   Main --workload analytics|lakehouse --seed N --passes P --trace 0|1
  *        --data DIR --work DIR --report FILE --cpus N
  *        [--corrupt OP] [--ops a,b,c]
  * }}}
  *
  * Each op is timed around the call into the program and the full
  * result (`collect()` for queries; the commit until its version is
  * visible for writes). Checks run outside the timed window. */
object Main {
  final case class OpRec(name: String, kind: String, pass: Int, startMs: Double,
      durMs: Double, ok: Boolean, err: String, counters: Map[String, Any])

  final class Run(val spark: SparkSession, val trace: Boolean, val seed: Long) {
    val ops = mutable.ArrayBuffer.empty[OpRec]
    private val epoch0Ms = System.currentTimeMillis().toDouble
    private val nano0 = System.nanoTime()
    def nowMs(ns: Long): Double = epoch0Ms + (ns - nano0) / 1e6

    /** Times `body` (which returns None when its result is correct, or a
      * failure message) and records the op. Exceptions count as failed. */
    def op(name: String, kind: String, pass: Int)(body: => Option[String]): OpRec = {
      val id = s"$pass:${ops.size}:$name"
      spark.sparkContext.setLocalProperty(Trace.OpProperty, id)
      val before = if (trace) Counters.opSnapshot() else Map.empty[String, Double]
      val t0 = System.nanoTime()
      val res: Either[String, Option[String]] =
        try Right(body) catch { case e: Throwable =>
          Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        }
      val t1 = System.nanoTime()
      spark.sparkContext.setLocalProperty(Trace.OpProperty, null)
      val counters: Map[String, Any] =
        if (trace) Counters.delta(before, Counters.opSnapshot()) + ("id" -> id) else Map.empty
      val err = res match {
        case Left(e) => e
        case Right(Some(e)) => e
        case Right(None) => ""
      }
      if (err.nonEmpty) System.err.println(s"[perfbench] $name failed: $err")
      val r = OpRec(name, kind, pass, nowMs(t0), (t1 - t0) / 1e6, err.isEmpty, err, counters)
      ops += r
      r
    }

    /** Marks an already recorded op failed by a check made after it. */
    def fail(r: OpRec, why: String): Unit = {
      System.err.println(s"[perfbench] ${r.name} failed its check: $why")
      val i = ops.lastIndexWhere(_ eq r)
      ops(i) = r.copy(ok = false, err = why)
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val passes = a("passes").toInt
    val trace = a("trace") == "1"
    val data = a("data")
    val work = a("work")
    val cpus = a("cpus")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", s"$work/lake")
    if (trace) b
      .config("spark.sql.queryExecutionListeners", classOf[Trace.PlanListener].getName)
      .config("spark.sql.streaming.streamingQueryListeners", classOf[Trace.StreamListener].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (trace) spark.sparkContext.addSparkListener(new Trace.JobListener)
    val sessionReadyMs = System.currentTimeMillis()
    val run = new Run(spark, trace, seed)

    val w: Workload = workload match {
      case "analytics" => new QueryWorkload(run, data, work,
        a.get("ops").map(_.split(',').toSeq).getOrElse(QueryWorkload.Analytics),
        a.get("corrupt"))
      case "lakehouse" => new Lakehouse(run, data, work, a.get("corrupt"))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val setup0 = System.nanoTime()
    w.setup()
    val workloadSetupS = (System.nanoTime() - setup0) / 1e9
    val warm0 = System.nanoTime()
    w.warmup()
    val warmupS = (System.nanoTime() - warm0) / 1e9
    val warmupOps = run.ops.toList
    run.ops.clear()
    if (trace) Trace.clear()

    val before = Counters.runSnapshot()
    val firstOpMs = System.currentTimeMillis()
    w.timed(passes)
    val timedEndMs = System.currentTimeMillis()
    val after = Counters.runSnapshot()
    val extra = w.finish()
    if (trace) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

    val report = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "passes" -> passes,
      "jvm_start_ms" -> jvmStartMs, "session_ready_ms" -> sessionReadyMs,
      "workload_setup_s" -> workloadSetupS, "warmup_s" -> warmupS,
      "first_op_ms" -> firstOpMs, "timed_end_ms" -> timedEndMs,
      "counters" -> Counters.delta(before, after),
      "totals" -> after,
      "vm_hwm_mb" -> Counters.vmHwmMb(),
      "driver_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "ops" -> run.ops.map { r =>
        mutable.LinkedHashMap[String, Any]("name" -> r.name, "kind" -> r.kind,
          "pass" -> r.pass, "start_ms" -> r.startMs, "dur_ms" -> r.durMs,
          "ok" -> r.ok, "err" -> r.err, "counters" -> r.counters)
      },
      "warmup_ops" -> warmupOps.map(r => Map("name" -> r.name, "ok" -> r.ok, "err" -> r.err)),
      "extra" -> extra)
    if (trace) report("trace") = Map(
      "jobs" -> Trace.jobsJson, "stages" -> Trace.stagesJson,
      "phases" -> Trace.phasesJson, "batches" -> Trace.batches.asScala.toSeq,
      "stream_queries" -> Trace.queriesStarted.get)
    Files.writeString(Paths.get(a("report")),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(report))
    spark.stop()
  }
}

/** A workload: set-up, an untimed warm-up that also checks every op
  * once, the timed section, and end-of-run checks. */
trait Workload {
  def setup(): Unit
  def warmup(): Unit
  def timed(passes: Int): Unit
  def finish(): Map[String, Any]
}

/** Counters the program and the JVM already expose, read from outside. */
object Counters {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def gc: (Double, Double) = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (gcs.map(_.getCollectionTime).filter(_ >= 0).sum / 1e3,
      gcs.map(_.getCollectionCount).filter(_ >= 0).sum.toDouble)
  }

  private def rules: Map[String, Double] = {
    val named = mutable.Map("resolve_datasource_s" -> 0.0, "resolve_datasource_runs" -> 0.0,
      "resolve_relations_s" -> 0.0, "resolve_relations_runs" -> 0.0,
      "rule_s" -> 0.0, "rule_runs" -> 0.0)
    // per-rule lines: "<rule>  <effective ns> / <total ns>  <effective runs> / <total runs>"
    val line = """\s*(\S+)\s+(\d+)\s*/\s*(\d+)\s+(\d+)\s*/\s*(\d+)\s*""".r
    val totalRuns = """Total number of runs: (\d+)\s*""".r
    val totalTime = """Total time: ([0-9.Ee-]+) seconds\s*""".r
    RuleExecutor.dumpTimeSpent().split('\n').foreach {
      case totalRuns(n) => named("rule_runs") = n.toDouble
      case totalTime(s) => named("rule_s") = s.toDouble
      case line(rule, _, total, _, runs) =>
        val key =
          if (rule.endsWith("ResolveDataSource")) Some("resolve_datasource")
          else if (rule.endsWith("ResolveRelations")) Some("resolve_relations")
          else None
        key.foreach { k =>
          named(s"${k}_s") += total.toLong / 1e9
          named(s"${k}_runs") += runs.toDouble
        }
      case _ =>
    }
    named.toMap
  }

  private def commitPhases: Map[String, Double] =
    CommitProfile.snapshot.toSeq.flatMap { case (phase, (n, s)) =>
      Seq(s"commit.${phase}_s" -> s, s"commit.${phase}_n" -> n.toDouble)
    }.toMap

  /** Cheap counters read around every op of a traced run. */
  def opSnapshot(): Map[String, Double] = {
    val (gcS, gcN) = gc
    commitPhases ++ Map("gc_s" -> gcS, "gc_count" -> gcN,
      "jit_s" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3)
  }

  /** Counters read once at each end of the timed section. */
  def runSnapshot(): Map[String, Double] =
    opSnapshot() ++ rules ++ Map(
      "cpu_s" -> os.getProcessCpuTime / 1e9,
      "codegen_compile_s" -> CodeGenerator.compileTime / 1e9,
      "heap_peak_mb" -> ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(_.getPeakUsage.getUsed).sum / 1048576.0)

  def delta(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    b.map { case (k, v) => k -> (if (k == "heap_peak_mb") v else v - a.getOrElse(k, 0.0)) }

  /** Peak resident set of this process, from /proc/self/status. */
  def vmHwmMb(): Double =
    try scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    catch { case _: Throwable => -1.0 }
}

/** A read-only query workload: each pass clears the shared-artifact
  * caches and runs every op once, in an order the seed permutes. The
  * untimed warm-up pass also writes each op's result for the oracle
  * check; every later result of the op must hash the same. */
object QueryWorkload {
  /** Short SQL/DataFrame queries over the star schema and events, then
    * a stateful AvailableNow stream query in its own session (q44) and an
    * operator pipeline pair that shares one cached artifact (tx19/tx20,
    * docDupFlagged), so that the streaming and operator layers are
    * measured too. The SQL queries are, of the 55 read-only analytics
    * queries, the 12 whose time has the largest share with no Spark job
    * running (driver-only: parsing, analysis, optimization, planning, file
    * listing, result collection) in one traced warm pass of all 55, and
    * q89, the one query that MvRewrite rewrites onto a materialized view.
    * q44 and tx19/tx20 are the cheapest stream query and cache-sharing
    * operator pair in a warm pass of their lists. */
  val Analytics: Seq[String] = Seq(
    "q2_filter_eq", "q3_filter_range", "q4_filter_in", "q5_filter_contains", "q6_having",
    "q13_star_join", "q19_topk_native", "q33_semi_anti", "q39_scd2", "q54_weighted_mix",
    "q93_recursive", "q94_unpivot", "q89_mv_rewrite",
    "q44_stream_agg", "tx19_dup_spans", "tx20_span_clean")
}

final class QueryWorkload(run: Main.Run, data: String, work: String,
    names: Seq[String], corrupt: Option[String]) extends Workload {
  private val spark = run.spark
  private val checked = mutable.Map.empty[String, Int]
  require(names.forall(graft.SparkEntry.queries.contains),
    s"unknown ops: ${names.filterNot(graft.SparkEntry.queries.contains).mkString(",")}")

  def setup(): Unit = ()

  private def canonical(rows: Array[Row]): Int =
    scala.util.hashing.MurmurHash3.seqHash(rows.map(_.toString).sorted.toSeq)

  private def pass(p: Int): Unit = {
    graft.SparkEntry.clearSharedCaches()
    val order = new scala.util.Random(run.seed * 1000003L + p).shuffle(names)
    order.foreach { n =>
      var rows: Array[Row] = null
      var schema: org.apache.spark.sql.types.StructType = null
      val r = run.op(n, "query", p) {
        val df = graft.SparkEntry.queries(n)(spark, data)
        rows = df.collect()
        schema = df.schema
        None
      }
      if (r.ok) checked.get(n) match {
        case Some(h) =>
          if (canonical(rows) != h) run.fail(r, "result differs from the checked result")
        case None =>
          checked(n) = canonical(rows)
          val kept = if (corrupt.contains(n)) rows.dropRight(1) else rows
          spark.createDataFrame(java.util.Arrays.asList(kept: _*), schema)
            .coalesce(1).write.mode("overwrite").parquet(s"$work/results/$n")
      }
    }
  }

  def warmup(): Unit = pass(-1)
  def timed(passes: Int): Unit = (0 until passes).foreach(pass)
  def finish(): Map[String, Any] = Map("checked" -> checked.keys.toSeq.sorted,
    "oracles" -> names.map(n => n -> graft.SparkEntry.oracleSql.get(n)).toMap)
}
