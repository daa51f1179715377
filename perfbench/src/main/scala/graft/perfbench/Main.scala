package graft.perfbench

import java.io.{File, FileOutputStream, OutputStreamWriter, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Row, SparkSession}

import graft.{Catalog, Sessions, SparkEntry, Tables}
import org.apache.spark.perfbench.Drain

/** One benchmark process: set up a graft session, run one workload's
  * entries in a closed loop from one client thread, and append one JSON
  * line per event to the events file as it happens.
  *
  * The process does no statistics. `perfbench/run.py` starts it, reads
  * the events file, checks results and derives every metric, so a
  * process that is killed still leaves every finished execution behind.
  *
  * Arguments (all required, `--name value`):
  *   --workload  workload name, for the record
  *   --orders    file with one pass per line, entry names separated by
  *               spaces; line 0 is the untimed checked pass
  *   --seconds   length of the timed window; passes run whole
  *   --trace     0: listeners off; 1: passes alternate between the
  *               listeners off and on
  *   --source    parquet directory (`<table>.parquet` files), or
  *               `graft_tpch:<schema>` for the generator
  *   --work      scratch directory: warehouse, Spark local dirs, results
  *   --events    events JSONL file to append to
  *   --analyze   comma-separated parquet tables to run graft's Analyze on
  *   --mode      `bench`, or `record` to also write the oracle SQL and
  *               export generator tables for the DuckDB cross-check
  */
object Main {
  /** Untimed passes after the checked pass, before the window. */
  private val WarmPasses = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val orders = scala.io.Source.fromFile(opt("orders"), "UTF-8").getLines()
      .map(_.trim.split(" ").toSeq).toVector
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = new File(opt("work"))
    val source = opt("source")
    val analyze = opt("analyze").split(",").filter(_.nonEmpty).toSeq
    val out = new Events(new File(opt("events")))
    try run(workload, source, analyze, orders, seconds, trace, work, opt("mode"), out)
    finally out.close()
  }

  private def run(workload: String, source: String, analyze: Seq[String], orders: Vector[Seq[String]],
      seconds: Double, trace: Boolean, work: File, mode: String, out: Events): Unit = {
    val entries = SparkEntry.queries
    val unknown = orders.flatten.distinct.filterNot(entries.contains)
    require(unknown.isEmpty, s"not in SparkEntry.queries: ${unknown.mkString(",")}")
    out.emit("start", "workload" -> workload, "source" -> source,
      "entries" -> orders.head.size, "boot_ms" -> (System.currentTimeMillis() - jvmStartMs).toDouble)

    // Set-up: session start and Analyze of the workload's tables.
    val t0 = System.nanoTime()
    val spark = session(work)
    val t1 = System.nanoTime()
    val perTable = analyze.map { t =>
      val a = System.nanoTime()
      graft.plans.Analyze.table(spark, Catalog.load(spark, source, t))
      t -> ms(System.nanoTime() - a)
    }
    val t2 = System.nanoTime()
    out.emit("setup", "session_ms" -> ms(t1 - t0), "analyze_ms" -> ms(t2 - t1),
      "analyze_tables" -> perTable.toMap)
    val sc = spark.sparkContext

    if (mode == "record") {
      if (source.startsWith("graft_tpch:")) exportSources(spark, source, new File(work, "export"))
      val oracle = SparkEntry.oracleSql
      Files.write(new File(work, "oracle_sql.json").toPath, Json.obj(orders.head.flatMap(n => oracle.get(n).map(n -> _)))
        .getBytes(StandardCharsets.UTF_8))
    }

    // Warm-up and check: one untimed execution per entry, whose rows go
    // to the checks directory for run.py to compare with the references.
    val checks = new File(work, "checks"); checks.mkdirs()
    val tw = System.nanoTime()
    for (name <- orders.head) {
      val t0 = System.nanoTime()
      try {
        val df = entries(name)(spark, source)
        val rows = df.collect()
        Results.write(new File(checks, s"$name.json"), df.schema.fieldNames.toSeq, rows)
        out.emit("check", "entry" -> name, "ok" -> true, "rows" -> rows.length, "ms" -> ms(System.nanoTime() - t0))
      } catch {
        case e: Throwable =>
          out.emit("check", "entry" -> name, "ok" -> false, "error" -> errText(e), "ms" -> ms(System.nanoTime() - t0))
      }
    }
    // More untimed passes the way the timed ones run: with only one, the
    // first timed pass still ran about 13% slower than the later ones,
    // and the JIT's own CPU time spread into the timed figures.
    for (_ <- 1 to WarmPasses; name <- orders.head)
      try entries(name)(spark, source).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () } // counted by the checked pass
    // Set-up ends here: the next query after the box probe is timed.
    out.emit("warm", "ms" -> ms(System.nanoTime() - tw))

    // The box witness brackets the timed windows.
    out.emit("box", "when" -> "start", "probe_ms" -> Box.probeMs(spark),
      "parallelism" -> sc.defaultParallelism, "loadavg" -> Box.loadavg, "cpu_jiffies" -> Box.jiffies)

    val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
    // per phase: wall ns, cpu ns, executions, passes
    val totals = scala.collection.mutable.LinkedHashMap.empty[String, Array[Long]]

    // One timed pass: every entry once in the pass's order, each plan run
    // to a noop sink.
    def runPass(pass: Int, phase: String, recorder: Option[Recorder]): Unit = {
      val cpu0 = os.getProcessCpuTime
      val start = System.nanoTime()
      for (name <- orders(pass)) {
        val group = s"pb-$phase-$pass-$name"
        sc.setJobGroup(group, name, interruptOnCancel = false)
        val t0ms = System.currentTimeMillis()
        val t0 = System.nanoTime()
        var finalQe: org.apache.spark.sql.execution.QueryExecution = null
        val err = try {
          val df = entries(name)(spark, source)
          finalQe = df.queryExecution
          df.write.format("noop").mode("overwrite").save()
          None
        } catch { case e: Throwable => Some(errText(e)) }
        val dt = System.nanoTime() - t0
        val t1ms = System.currentTimeMillis()
        sc.clearJobGroup()
        out.emit("exec", "phase" -> phase, "pass" -> pass, "entry" -> name, "ms" -> ms(dt),
          "ok" -> err.isEmpty, "error" -> err.orNull)
        recorder.foreach(_.query(group, phase, pass, name, t0ms, t1ms, finalQe))
      }
      // running totals after every pass, so a run cut short keeps them
      val t = totals.getOrElseUpdate(phase, Array(0L, 0L, 0L, 0L))
      t(0) += System.nanoTime() - start; t(1) += os.getProcessCpuTime - cpu0
      t(2) += orders(pass).size; t(3) += 1
      out.emit("window", "phase" -> phase, "wall_ms" -> ms(t(0)), "cpu_ms" -> ms(t(1)),
        "execs" -> t(2), "passes" -> t(3))
    }

    // The timed window: whole passes until `seconds` have passed. A
    // traced run alternates passes with the listeners off and on in
    // blocks of four (off, on, on, off), so that warm-up drift cancels,
    // and their qps difference is the listeners' cost.
    val recorder = if (trace) Some(new Recorder(out)) else None
    val start = System.nanoTime()
    var pass = 1
    def done = (System.nanoTime() - start) / 1e9 >= seconds && (!trace || pass % 4 == 1)
    while (!done && pass < orders.size) {
      recorder.filter(_ => pass % 4 == 2 || pass % 4 == 3) match {
        case Some(rec) =>
          Drain(sc)
          sc.addSparkListener(rec)
          spark.listenerManager.register(rec)
          runPass(pass, "traced", recorder)
          Drain(sc)
          spark.listenerManager.unregister(rec)
          sc.removeSparkListener(rec)
        case None => runPass(pass, if (trace) "untraced" else "timed", None)
      }
      pass += 1
    }
    recorder.foreach(_.flush())
    if (pass >= orders.size)
      out.emit("skip", "reason" -> s"orders file holds only ${orders.size - 1} timed passes")

    // Collect until the heap settles: Spark's context cleaner frees
    // shuffle and broadcast state only after a GC has queued it.
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(300) }
    val mem = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    out.emit("heap", "used_mb" -> mem.getUsed / 1048576.0)
    out.emit("box", "when" -> "end", "probe_ms" -> Box.probeMs(spark),
      "parallelism" -> sc.defaultParallelism, "loadavg" -> Box.loadavg, "cpu_jiffies" -> Box.jiffies)
    spark.stop()
    out.emit("end")
  }

  private def session(work: File): SparkSession = {
    val s = Sessions.builder(master = s"local[${Runtime.getRuntime.availableProcessors}]", appName = "graft-perfbench")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.checkpoint.dir", new File(work, "checkpoints").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.setCheckpointDir(new File(work, "checkpoints").getAbsolutePath)
    s
  }

  /** Record mode: write the generator's tables as parquet so the DuckDB
    * cross-check runs the oracle SQL on the same rows. */
  private def exportSources(spark: SparkSession, source: String, dir: File): Unit = {
    val t = Tables(spark, source)
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "partsupp")
      .foreach(n => t(n).write.mode("overwrite").parquet(new File(dir, s"$n.parquet").getAbsolutePath))
  }

  private def jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime
  private def ms(ns: Long): Double = ns / 1e6
  private def errText(e: Throwable): String = {
    val m = Option(e.getMessage).getOrElse("").linesIterator.take(3).mkString(" ")
    s"${e.getClass.getSimpleName}: ${m.take(400)}"
  }
}

/** Append-only JSONL sink; every line is flushed as it is written. */
final class Events(file: File) {
  private val t0 = ManagementFactory.getRuntimeMXBean.getStartTime
  private val w = new PrintWriter(new OutputStreamWriter(new FileOutputStream(file, true), StandardCharsets.UTF_8))
  def emit(ev: String, kv: (String, Any)*): Unit = synchronized {
    w.println(Json.obj(Seq("ev" -> ev, "at_ms" -> (System.currentTimeMillis() - t0)) ++ kv))
    w.flush()
  }
  def close(): Unit = w.close()
}

object Json {
  def obj(kv: Seq[(String, Any)]): String =
    kv.filter(_._2 != null).map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""; case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"; case c => b += c
    }
    (b += '"').result()
  }
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) str(d.toString) else d.toString
    case f: Float => value(f.toDouble)
    case n: java.math.BigDecimal => n.toPlainString
    case n: scala.math.BigDecimal => n.bigDecimal.toPlainString
    case n @ (_: Int | _: Long | _: Short | _: Byte) => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => (String.valueOf(k), x) }.sortBy(_._1)
        .map { case (k, x) => s"[${str(k)},${value(x)}]" }.mkString("[", ",", "]")
    case r: Row => r.toSeq.map(value).mkString("[", ",", "]")
    case t: java.sql.Timestamp => value(t.toLocalDateTime)
    case t: java.time.Instant => value(java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC))
    // timestamps print as DuckDB's do: seconds always, micros when set
    case t: java.time.LocalDateTime =>
      val base = t.withNano(0).format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
      str(if (t.getNano == 0) base else f"$base.${t.getNano / 1000}%06d")
    case a: Array[Byte] => str(a.map(b => f"$b%02x").mkString)
    case a: Array[_] => a.map(value).mkString("[", ",", "]")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case p: Product => p.productIterator.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

/** Result dump for the compare in run.py: columns sorted by name, one
  * JSON array per row. */
object Results {
  def write(f: File, cols: Seq[String], rows: Array[Row]): Unit = {
    val order = cols.zipWithIndex.sortBy(_._1).map(_._2)
    val w = new PrintWriter(new OutputStreamWriter(new FileOutputStream(f), StandardCharsets.UTF_8))
    try {
      w.println(Json.value(order.map(cols)))
      rows.foreach(r => w.println(order.map(i => Json.value(r.get(i))).mkString("[", ",", "]")))
    } finally w.close()
  }
}

/** The box witness: a fixed CPU-bound Spark job (the shape of graft's
  * `calib_cpu_scaling` probe, at a fixed 8M rows), the load average and
  * the cumulative CPU jiffies from /proc/stat for steal%. */
object Box {
  def probeMs(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions.{col, max, xxhash64}
    val t0 = System.nanoTime()
    val h = (1 to 16).foldLeft(col("id"))((c, _) => xxhash64(c))
    spark.range(0, 8000000L, 1, 64).select(max(h).as("h")).write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e6
  }
  def loadavg: String = read("/proc/loadavg").split(" ").take(3).mkString(" ")
  /** `cpu` line of /proc/stat: user nice system idle iowait irq softirq steal. */
  def jiffies: Seq[Long] =
    read("/proc/stat").linesIterator.find(_.startsWith("cpu ")).toSeq
      .flatMap(_.split("\\s+").drop(1).take(8).map(_.toLong))
  private def read(p: String): String =
    try new String(Files.readAllBytes(Paths.get(p)), StandardCharsets.UTF_8) catch { case _: Throwable => "" }
}
