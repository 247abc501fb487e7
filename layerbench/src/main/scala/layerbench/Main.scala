package layerbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

import graft.Tables
import graft.functions.VectorFunctions

/** One benchmark process: set-up `setups` times, untimed warm-up units
  * until unit times level off, then the workload's closed loop (one
  * caller waiting on each call) for a fixed number of `units`, each
  * preceded by the host-speed reference job (and one more after the
  * last), with `trace=1` one more unit traced with listener counts, then
  * the untimed oracle dumps. Every raw sample is written as JSON to `out`
  * for `run.py` to check and summarise.
  */
object Main {
  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1000.0

  private def cpuSeconds(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => 0.0
  }

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def main(args: Array[String]): Unit = {
    val conf = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val dir = conf("data")
    val seed = conf("seed").toLong
    def queries(key: String): Seq[(String, String)] =
      conf(key).split(',').toSeq.filter(_.nonEmpty).map { mq => val Array(m, q) = mq.split(':'); (m, q) }

    /** One set-up: a fresh Spark session (and context, the first time),
      * the program's functions and rules registered, every input table's
      * footer read, and one warm-up unit of the workload. */
    def setUp(workload: String, prev: Option[SparkSession]): (SparkSession, Tracer, Workload) = {
      val spark = prev.map { p => p.catalog.clearCache(); p.newSession() }.getOrElse(SparkSession.builder()
        .master("local[4]")
        .appName("layerbench")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.default.parallelism", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        // Spark's own job bookkeeping capped, so the live heap does not
        // grow with the number of warm-up units
        .config("spark.ui.retainedJobs", "50").config("spark.ui.retainedStages", "50")
        .config("spark.ui.retainedTasks", "1000").config("spark.sql.ui.retainedExecutions", "50")
        .config("spark.local.dir", conf("localDir"))
        .config("spark.sql.warehouse.dir", s"${conf("localDir")}/warehouse")
        .getOrCreate())
      spark.sparkContext.setLogLevel("ERROR")
      VectorFunctions.register(spark)
      val tr = new Tracer(spark.sparkContext, conf("runId"))
      val wl: Workload = workload match {
        case "ingest"    => new IngestWorkload(spark, tr, conf)
        case "curation"  => new CurationWorkload(spark, tr, dir, seed,
          conf("curation.producers").split(',').toSeq, queries("curation.queries"))
      }
      wl.tables.foreach(t => Tables.load(spark, dir, t).schema)
      wl.warmup()
      (spark, tr, wl)
    }

    if (conf.get("mode").contains("train")) {
      // Class-loading pass for the class-data-sharing archive the build
      // records: one set-up of every workload, nothing measured.
      conf("workloads").split(',').foldLeft(Option.empty[SparkSession])((prev, w) => Some(setUp(w, prev)._1))
        .foreach(_.stop())
      return
    }

    // Set-up runs `setups` times; the first also pays JVM and Spark
    // context start. Each later one drops every cached relation and
    // starts a new session, so per-session memos are rebuilt.
    val setupTimes = ArrayBuffer.empty[Double]
    var (spark, tr, wl) = setUp(conf("workload"), None)
    setupTimes += (System.currentTimeMillis() - jvmStartMs) / 1000.0
    (1 until conf("setups").toInt).foreach { _ =>
      val (next, secs) = Timed(setUp(conf("workload"), Some(spark)))
      spark = next._1; tr = next._2; wl = next._3
      setupTimes += secs
    }
    val sc = spark.sparkContext
    val out = new ArrayBuffer[String]
    out += s""""setup_s": ${setupTimes.mkString("[", ", ", "]")}"""

    // Warm-up: repeat the unit, untimed, until its time levels off, so
    // the measured units do not depend on how far JIT compilation got.
    val warm = ArrayBuffer.empty[Double]
    val (_, warmS) = Timed {
      while (warm.size < conf("warmMax").toInt && (warm.size < conf("warmMin").toInt ||
          !Leveled(warm.toSeq, conf("warmWindow").toInt, conf("warmTol").toDouble))) {
        HostReference.run(spark) // warmed alongside the unit it is timed beside
        warm += Timed(wl.runUnit(-2 - warm.size, ArrayBuffer.empty))._2
      }
    }
    out += s""""warmup_s": $warmS, "warmup_units": ${warm.mkString("[", ", ", "]")}"""

    // The measured closed loop: a fixed number of units.
    val ops = ArrayBuffer.empty[Op]
    val units = ArrayBuffer.empty[UnitRun]
    val refs = ArrayBuffer.empty[Double]
    val gc0 = gcSeconds()
    val t0 = System.nanoTime()
    (0 until conf("units").toInt).foreach { unit =>
      refs += Timed(HostReference.run(spark))._2
      val cpu0 = cpuSeconds()
      val (kind, secs) = Timed {
        try wl.runUnit(unit, ops)
        catch { case e: Exception =>
          ops += Op("error", String.valueOf(e.getMessage).take(300), unit, 0.0, ok = false, "")
          "error"
        }
      }
      units += UnitRun(kind, secs, cpuSeconds() - cpu0)
    }
    refs += Timed(HostReference.run(spark))._2
    val loopS = (System.nanoTime() - t0) / 1e9
    out += s""""loop_s": $loopS, "gc_s": ${gcSeconds() - gc0}"""
    // heap the session still holds (its memos and cached relations),
    // with no listener events still queued
    PerfbenchBus.drain(sc)
    out += s""""heap_live_mb": ${LiveHeap.settledMb()}"""
    out += s""""units": ${Json.arr(units.map(u => Json.obj("kind" -> Json.str(u.kind), "s" -> u.seconds.toString, "cpu_s" -> u.cpuSeconds.toString)))}"""
    out += s""""ops": ${Json.arr(ops.map(Json.op))}"""
    out += s""""ref_s": ${refs.mkString("[", ", ", "]")}"""
    val unit = units.size

    if (conf("trace") == "1") {
      // One traced unit first, discarded: a traced ingest fetch
      // materialises each layer apart, code the loop never warmed.
      tr.enabled = true
      wl.runUnit(unit, ArrayBuffer.empty)
      tr.reset()
      val listener = new ExecListener
      sc.addSparkListener(listener)
      val traced = ArrayBuffer.empty[Op]
      val (kind, secs) = Timed(wl.runUnit(unit + 1, traced))
      val cachedMb = sc.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
      Probes.run(spark, tr, dir, conf("probeTables").split(',').toSeq, traced)
      tr.enabled = false
      PerfbenchBus.drain(sc)
      sc.removeSparkListener(listener)
      out += s""""traced_unit": ${Json.obj("kind" -> Json.str(kind), "s" -> secs.toString)}"""
      out += s""""traced_ops": ${Json.arr(traced.map(Json.op))}"""
      out += s""""cached_mb": $cachedMb"""
      out += s""""spans": ${Json.arr(tr.spans.map(Json.span))}"""
      out += s""""exec": ${Json.exec(listener.counts, tr.runId)}"""
    }
    val oracles = wl.dumpOracles(conf("oracleDir"))
    val sql = graft.SparkEntry.oracleSql
    out += s""""oracles": ${Json.arr(oracles.toSeq.sortBy(_._1).map { case (q, d) =>
      Json.obj("name" -> Json.str(q), "digest" -> Json.str(d), "sql" -> Json.str(sql(q)))
    })}"""
    out += s""""peak_rss_mb": ${vmHwmMb()}"""
    Files.write(Paths.get(conf("out")), out.mkString("{", ",\n", "}\n").getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}

/** A fixed plain-Spark job that runs no program code: a range over 4
  * partitions, hashed, grouped into 101 keys through a shuffle, collected.
  * It uses the same session, scheduler, codegen and cores as the
  * workload, so its time follows the host's speed and not the program's;
  * `run.py` divides each measured call by it. */
object HostReference {
  def run(spark: SparkSession): Unit =
    spark.range(0, 400000, 1, 4).selectExpr("id % 101 AS k", "xxhash64(id) & 65535 AS h")
      .groupBy("k").sum("h").collect()
}

/** Heap in use after full collections, repeated until it stops falling:
  * a collection frees the Spark context's handles of broadcasts and shuffles,
  * Spark's cleaner then drops their blocks asynchronously, and only the
  * next collection returns that memory. */
object LiveHeap {
  def settledMb(): Double = {
    def used(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var prev = used()
    var rounds = 0
    var cur = prev
    while ({ Thread.sleep(200); cur = used(); rounds += 1; cur < prev - 0.5 && rounds < 10 }) prev = cur
    cur
  }
}

/** Whether a series of unit times has levelled off: the median of its
  * last `window` values is no more than `tol` below the median of the
  * `window` before them. */
object Leveled {
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  def apply(xs: Seq[Double], window: Int, tol: Double): Boolean =
    xs.size >= 2 * window &&
      median(xs.takeRight(window)) >= (1 - tol) * median(xs.takeRight(2 * window).take(window))
}

/** Minimal JSON rendering for the raw-sample file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    (b += '"').toString
  }
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",\n", "]")
  def op(o: Op): String = obj(
    "kind" -> str(o.kind), "name" -> str(o.name), "unit" -> o.unit.toString,
    "s" -> o.seconds.toString, "ok" -> o.ok.toString, "digest" -> str(o.digest),
    "extra" -> obj(o.extra.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString }: _*))
  def span(s: Span): String = obj(
    "id" -> s.id.toString, "parent" -> s.parent.toString, "name" -> str(s.name),
    "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString)
  def exec(m: Map[String, ExecCounts], runId: String): String =
    obj(m.toSeq.sortBy(_._1).map { case (g, c) =>
      val span = if (g.startsWith(runId + ":")) g.drop(runId.length + 1) else "0"
      span -> obj("jobs" -> c.jobs.toString, "stages" -> c.stages.toString, "tasks" -> c.tasks.toString,
        "task_cpu_ns" -> c.taskCpuNs.toString, "input_bytes" -> c.inputBytes.toString,
        "input_records" -> c.inputRecords.toString, "shuffle_bytes" -> c.shuffleBytes.toString,
        "spill_bytes" -> c.spillBytes.toString,
        "task_output_records" -> c.taskOutputRecords.mkString("[", ",", "]"),
        "cached_rdds" -> c.cachedRdds.size.toString)
    }: _*)
}
