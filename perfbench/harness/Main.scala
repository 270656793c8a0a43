package perfbench

import java.lang.management.ManagementFactory
import java.util.UUID

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The measured process of one benchmark run.
  *
  * {{{
  *   perfbench.Main --workload W --data DIR --work DIR --seconds S --trace 0|1 --cores N --out FILE
  * }}}
  *
  * Builds the session through `graft.GraftSession.local`, runs one untimed
  * warm-up pass, then timed passes until `seconds` have elapsed. Every op
  * is consumed in full by [[DigestSink]]; each digest is recorded for
  * oracle.py and compared with the warm-up's. With `--trace 1` the timed
  * passes run in pairs: the first pass of a pair traces every other op,
  * the second the rest, so a pair traces every op once and times every op
  * once untraced (see metrics.tracing_overhead). Traced
  * ops record spans through [[Tracer]]. Raw measurements go to `--out` as
  * JSON; run.py derives the metrics.
  */
object Main {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  private def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuS: Double = osBean.getProcessCpuTime / 1e9

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val (workload, data, work) = (a("workload"), a("data"), a("work"))
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"

    val sessionStart = nowMs
    val spark = graft.GraftSession.local(a("cores").toInt, "perfbench")
    val sessionS = (nowMs - sessionStart) / 1000
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val ops = Workloads(workload, Ctx(spark, data, work, 0))

    // untimed warm-up pass; its digests are the reference outputs
    val warm = ops.map { op =>
      val res = attempt {
        val df = op.body(Ctx(spark, data, work, 0))
        (df.schema.fieldNames.sorted.toSeq, digest(df))
      }
      spark.catalog.clearCache()
      (op, res)
    }
    val setupS = (nowMs - jvmStartMs) / 1000
    val reference = warm.collect { case (op, Right((_, d))) => op.name -> d }.toMap

    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    val execs = mutable.ArrayBuffer[Map[String, Any]]()
    val spans = mutable.ArrayBuffer[Map[String, Any]]()
    val start = nowMs
    var pass = 1
    while (nowMs - start < seconds * 1000 || (trace && pass % 2 == 0)) {
      val ctx = Ctx(spark, data, work, pass)
      val cpu0 = cpuS
      var wall = 0.0
      ops.zipWithIndex.foreach { case (op, i) =>
        val traced = trace && (i + pass) % 2 == 0
        tracer.foreach { t => t.take(); t.enabled = traced }
        spark.sparkContext.setJobGroup(s"p$pass-op$i", op.name, interruptOnCancel = false)
        val t0 = nowMs
        var t1 = t0
        val res = attempt {
          val df = op.body(ctx)
          t1 = nowMs
          digest(df)
        }
        val t2 = nowMs
        spark.sparkContext.clearJobGroup()
        wall += t2 - t0
        val ok = res.toOption.exists(d => reference.get(op.name).contains(d))
        execs += Map("name" -> op.name, "module" -> op.module, "pass" -> pass, "traced" -> traced,
          "wall_s" -> (t2 - t0) / 1000, "build_s" -> (t1 - t0) / 1000,
          "digest" -> res.toOption.map { case (n, h) => Seq(n, h) }.orNull,
          "error" -> res.left.toOption.getOrElse(if (ok) null else "differs from the warm-up result"))
        if (traced) spans += spanJson(op, pass, t0, t1, t2, tracer.get.take())
        tracer.foreach(_.enabled = false)
        spark.catalog.clearCache()
      }
      val cpu = cpuS - cpu0
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ctx.root))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ctx.oracleIo))
      val heapMb = liveHeapMb()
      passes += Map("pass" -> pass, "traced" -> trace, "wall_s" -> wall / 1000, "cpu_s" -> cpu,
        "heap_mb" -> heapMb)
      pass += 1
    }

    // traced runs also time the headline rows the old Bench way (count())
    val legacy = if (!trace) Map.empty[String, Any] else
      ops.filter(op => graft.Bench.headline.contains(op.name)).map { op =>
        val t0 = nowMs
        val r = attempt(op.body(Ctx(spark, data, work, pass)).count())
        spark.catalog.clearCache()
        op.name -> (if (r.isRight) (nowMs - t0) / 1000 else null)
      }.toMap
    val anchor = if (trace) graft.Bench.anchorSec() else null

    val out = Map(
      "workload" -> workload,
      "setup_s" -> setupS,
      "session_s" -> sessionS,
      "passes" -> passes.toSeq,
      "execs" -> execs.toSeq,
      "warmup" -> warm.map { case (op, res) =>
        Map("name" -> op.name, "module" -> op.module, "error" -> res.left.toOption.orNull,
          "columns" -> res.toOption.map(_._1).orNull,
          "digest" -> res.toOption.map { case (_, (n, h)) => Seq(n, h) }.orNull,
          "oracle" -> Map("kind" -> op.oracle.kind, "sql" -> op.oracle.sql))
      },
      "spans" -> spans.toSeq,
      "warehouse" -> Ctx(spark, data, work, 0).root,
      "zolo_oracles" -> (if (workload == "nightly_etl") Workloads.windowOracles(Ctx(spark, data, work, 0)) else null),
      "legacy_count_s" -> legacy,
      "anchor_s" -> anchor,
      "cores" -> spark.sparkContext.defaultParallelism,
      "conf" -> effectiveConf(spark),
      "rss_peak_mb" -> rssPeakMb
    )
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(new java.io.File(a("out")), out)
    spark.stop()
  }

  /** Heap in use once full collections stop freeing memory. Spark's
    * ContextCleaner releases broadcast and shuffle state only after a
    * collection has found it unreachable, so a single System.gc() can still
    * count it.
    */
  private def liveHeapMb(): Double = {
    def collect(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var prev = collect()
    var cur = prev
    var rounds = 0
    do {
      Thread.sleep(200)
      prev = cur
      cur = collect()
      rounds += 1
    } while (prev - cur > 1.0 && rounds < 5)
    cur
  }

  private def attempt[A](f: => A): Either[String, A] =
    try Right(f)
    catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}") }

  /** Consumes every row and column of `df`; returns (rows, hash sum). */
  def digest(df: DataFrame): (Long, Long) = {
    val token = UUID.randomUUID().toString
    df.write.format(classOf[DigestSink].getName).option("token", token).mode("overwrite").save()
    DigestSink.take(token)
  }

  private def spanJson(op: Op, pass: Int, t0: Double, t1: Double, t2: Double, t: OpTrace): Map[String, Any] =
    Map(
      "name" -> op.name, "module" -> op.module, "pass" -> pass,
      "start" -> t0, "build_end" -> t1, "end" -> t2,
      "jobs" -> t.jobs.map(j => Map("id" -> j.id, "group" -> j.group, "start" -> j.startMs,
        "end" -> j.endMs, "stages" -> j.stageIds)),
      "stages" -> t.stages.map(s => Map("id" -> s.id, "submit" -> s.submitMs, "end" -> s.endMs,
        "tasks" -> s.tasks, "run_ms" -> s.runMs, "cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs,
        "input_bytes" -> s.inputBytes, "shuffle_read_bytes" -> s.shuffleReadBytes,
        "shuffle_write_bytes" -> s.shuffleWriteBytes, "shuffle_write_ns" -> s.shuffleWriteNs,
        "fetch_wait_ms" -> s.fetchWaitMs, "spill_bytes" -> s.spillBytes, "max_task_ms" -> s.maxTaskMs)),
      "plans" -> t.plans.map(p => Map(
        "phases" -> p.phases.map { case (n, s, e) => Map("name" -> n, "start" -> s, "end" -> e) },
        "exchanges" -> p.exchanges, "broadcasts" -> p.broadcasts, "sorts" -> p.sorts,
        "checkpoint_scans" -> p.checkpointScans)),
      "aqe_updates" -> t.aqeUpdates,
      "storage_peak_mb" -> t.storagePeakBytes / 1048576.0)

  /** Session settings that decide performance, so A/B conf drift shows. */
  private def effectiveConf(spark: SparkSession): Map[String, String] = {
    val keep = (k: String) => k.startsWith("spark.sql.") || k.startsWith("spark.shuffle.") ||
      k == "spark.master" || k.startsWith("spark.default.") || k.startsWith("spark.memory.")
    val ctx = spark.sparkContext.getConf.getAll.toMap
    (ctx ++ spark.conf.getAll).filter { case (k, _) => keep(k) && !k.startsWith("spark.sql.catalog.") }
  }

  private def rssPeakMb: Any =
    try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
      line.map(_.split("\\s+")(1).toDouble / 1024).orNull
    } catch { case _: Throwable => null }
}
