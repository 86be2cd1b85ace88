package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow, XXH64}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.StructType

/** Closed-loop client for one benchmark run, in a fresh JVM.
  *
  * One client thread visits the workload's ops in a seeded shuffled
  * order: first three untimed warm passes, the second of which writes
  * each op's output for the oracle compare, then timed passes until
  * `seconds` have elapsed. Each op is timed in
  * three phases: `build` (the query function call), `plan` (forcing
  * `queryExecution.executedPlan`) and `exec` (running that physical
  * plan to completion, reducing its rows to a count and a content
  * digest that the runner compares across every execution of the op). With `trace=1` every other timed pass
  * attaches the listeners of [[Tracer]]; the untraced passes between
  * them give the overhead baseline.
  *
  * Arguments are `key=value`: data, out, ops (comma list), seed,
  * seconds, trace, cores. Everything is written to
  * `<out>/result.json`; the runner does the statistics.
  */
object Harness {
  private val ApiEndpoints = Seq("vendas", "clientes", "truncado", "limitado", "vazio")

  private val epochOffsetNs = System.currentTimeMillis() * 1000000.0 - System.nanoTime()
  private def nowMs: Double = (System.nanoTime() + epochOffsetNs) / 1e6

  /** Per-partition (row count, order-independent sum of xxhash64 over
    * each row's UnsafeRow bytes). */
  private def digest(schema: StructType)(rows: Iterator[InternalRow]): Iterator[(Long, Long)] = {
    lazy val toUnsafe = UnsafeProjection.create(schema)
    var n = 0L
    var h = 0L
    rows.foreach { r =>
      val u = r match { case u: UnsafeRow => u; case o => toUnsafe(o) }
      n += 1
      h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
    }
    Iterator.single((n, h))
  }

  final case class Sample(op: String, id: Int, start: Double, build: Double,
      plan: Double, end: Double, rows: Long, digest: Long, error: Option[String],
      api: Option[(Long, Long)] = None) {
    def json: Map[String, Any] = Map("op" -> op, "id" -> id, "start" -> start,
      "build_end" -> build, "plan_end" -> plan, "end" -> end, "rows" -> rows,
      "digest" -> digest.toString, "error" -> error.orNull) ++
      api.map { case (a, p) => Map("api_attempts" -> a, "api_pages" -> p) }.getOrElse(Map.empty)
  }

  def main(args: Array[String]): Unit = {
    val a = args.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    val dataDir = a("data")
    val outDir = a("out")
    val ops = a("ops").split(",").toSeq
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cores = a("cores").toInt

    val queries = graft.SparkEntry.queries
    val oracleSql = graft.SparkEntry.oracleSql
    val unknown = ops.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown ops: ${unknown.mkString(",")}")

    val tmp = sys.props("java.io.tmpdir")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .config("spark.local.dir", s"$tmp/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.streaming.StreamMetrics.attach(spark)
    val sc = spark.sparkContext

    var nextId = 0

    /** Runs one op through build → plan → exec, tagging its Spark jobs
      * with a job group that names the sample. */
    def runOp(op: String): Sample = {
      val id = nextId; nextId += 1
      sc.setJobGroup(s"perfbench-$id", op, interruptOnCancel = false)
      val t0 = nowMs
      var t1 = t0; var t2 = t0
      var parts = Array.empty[(Long, Long)]
      val err = try {
        val df = queries(op)(spark, dataDir)
        t1 = nowMs
        val qe = df.queryExecution
        val plan = qe.executedPlan
        t2 = nowMs
        parts = SQLExecution.withNewExecutionId(qe, Some(s"perfbench $op")) {
          plan.execute().mapPartitions(digest(plan.schema)).collect()
        }
        None
      } catch { case NonFatal(e) =>
        Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      } finally sc.clearJobGroup()
      val t3 = nowMs
      if (t1 == t0) t1 = t3
      if (t2 == t0) t2 = t1
      Sample(op, id, t0, t1, t2, t3, parts.map(_._1).sum, parts.map(_._2).sum, err)
    }

    def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
    def jitMs: Long = Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported).map(_.getTotalCompilationTime).getOrElse(0L)
    def apiState: (Long, Long) = {
      val api = graft.sources.MockApiServer
      (ApiEndpoints.map(e => api.totalAttempts(e).toLong).sum,
        ApiEndpoints.map(e => (0L to 256L).count(p => api.attemptCount(e, p) > 0).toLong).sum)
    }

    val rng = new scala.util.Random(a("seed").toLong)

    // ---- warm passes (untimed). The first pays class loading, codegen
    // and the staging builds; the second executes each op through a
    // parquet write instead, producing the output the oracle compare
    // reads; the third runs while JIT compilation is still catching up,
    // which would otherwise slow the first timed pass.
    val warm = rng.shuffle(ops).map(runOp)
    val oracleWriteErrors = mutable.LinkedHashMap.empty[String, String]
    rng.shuffle(ops).foreach { op =>
      if (!oracleSql.contains(op)) runOp(op)
      else try queries(op)(spark, dataDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/oracle/$op")
      catch { case NonFatal(e) => oracleWriteErrors(op) = String.valueOf(e.getMessage).take(300) }
    }
    val warm3 = rng.shuffle(ops).map(runOp)
    (warm ++ warm3).foreach(s =>
      println(f"warm ${s.op}%-32s ${(s.end - s.start) / 1000}%8.3f s ${s.error.getOrElse("")}"))

    // ---- timed passes
    val firstTimedMs = nowMs
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    while ((nowMs - firstTimedMs) / 1000.0 < seconds || (trace && passes.size < 2)) {
      val p = passes.size
      val traced = trace && p % 2 == 1
      val tracer = if (traced) Some(new Tracer) else None
      tracer.foreach { t => sc.addSparkListener(t); spark.streams.addListener(t.streams) }
      val gc0 = gcMs
      val (trig0, _) = graft.streaming.StreamMetrics.cumulativeTriggers
      val passStart = nowMs
      val recs = rng.shuffle(ops).map { op =>
        // a traced op starts on a zeroed request meter, so the reading
        // after it is the op's own count whatever ran before it
        if (traced) graft.sources.MockApiServer.reset()
        val s = runOp(op)
        if (traced) s.copy(api = Some(apiState)) else s
      }
      val rec = mutable.LinkedHashMap[String, Any](
        "pass" -> p, "traced" -> traced, "start" -> passStart, "end" -> nowMs,
        "gc_ms" -> (gcMs - gc0), "samples" -> recs.map(_.json))
      tracer.foreach { t =>
        org.apache.spark.perfbench.BusDrain.drain(sc)
        sc.removeSparkListener(t)
        spark.streams.removeListener(t.streams)
        t.synchronized {
          rec ++= Seq("counters" -> t.counters.toMap, "jobs" -> t.jobs.map(_.toMap),
            "stages" -> t.stages.map(_.toMap), "triggers" -> t.triggers.toSeq)
        }
        rec += "meter_triggers" -> (graft.streaming.StreamMetrics.cumulativeTriggers._1 - trig0)
      }
      passes += rec.toMap
      println(f"pass $p traced=$traced ${recs.map(s => s.end - s.start).sum / 1000}%.3f s")
    }

    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum
    val hwmKb = try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
      catch { case NonFatal(_) => -1L }

    val result = Map(
      "first_timed_ms" -> firstTimedMs,
      "warm" -> (warm ++ warm3).map(_.json),
      "passes" -> passes,
      "oracle_sql" -> ops.flatMap(op => oracleSql.get(op).map(op -> _)).toMap,
      "oracle_write_errors" -> oracleWriteErrors,
      "staging" -> graft.Staging.sharedBuildSeconds,
      "jvm" -> Map("gc_ms" -> gcMs, "jit_ms" -> jitMs, "heap_peak_bytes" -> heapPeak,
        "vm_hwm_kb" -> hwmKb),
      "stamp" -> Map(
        "spark" -> spark.version,
        "java" -> sys.props("java.version"),
        "java_vm" -> sys.props("java.vm.name"),
        "xmx_bytes" -> Runtime.getRuntime.maxMemory,
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "cores" -> cores,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions")))
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    Files.writeString(Paths.get(s"$outDir/result.json"), json.writeValueAsString(result))
    spark.stop()
  }
}
