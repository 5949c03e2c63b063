package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.Locale
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one measurement window.
  *
  *   perfbench.Main --workload serve|ingest|ingest_concurrent|curate --seed N --seconds S
  *                  --trace 0|1 --work DIR --out FILE
  *
  * Prints every metric by name with its unit, then, as the last line, one
  * JSON object {correct, attempted, failed, metrics}: the end-to-end
  * metrics untraced, the per-layer metrics traced. The full record (named
  * workload metrics, spans, environment) goes to `--out`. */
object Main {
  val ByName: Map[String, Ctx => Outcome] = Map(
    "serve" -> perfbench.Workloads.serve,
    "ingest" -> perfbench.Workloads.ingest(concurrent = false),
    "ingest_concurrent" -> perfbench.Workloads.ingest(concurrent = true),
    "curate" -> perfbench.Workloads.curate)

  def main(args: Array[String]): Unit = {
    val code = try { run(args); 0 } catch {
      case e: Throwable => System.err.println(s"perfbench: ${e.getClass.getName}: ${e.getMessage}"); e.printStackTrace(); 1
    }
    System.out.flush()
    // Spark leaves non-daemon threads behind; exit explicitly
    System.exit(code)
  }

  private def run(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = a.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = need("workload")
    val body = ByName.getOrElse(workload, throw new IllegalArgumentException(s"unknown workload '$workload'"))
    val seed = need("seed").toLong
    val seconds = need("seconds").toInt
    val trace = need("trace") == "1"
    val work = Paths.get(need("work")).toAbsolutePath
    val out = Paths.get(need("out")).toAbsolutePath
    Files.createDirectories(work)

    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val load0 = loadavg()
    val spark = session(work)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val tr = new Tracer(spark.sparkContext, trace)
    val c = new Ctx(spark, tr, seed, seconds, work)
    c.phase("session")
    val o = body(c)
    val setupCpuS = c.phases.find(_._1 == "warm_up").map(_._3).getOrElse(Double.NaN)
    val opCpu = Workloads.median(c.cpuMs(o.opKind))
    val cpuByKind = c.cpu.perOpNs.groupBy(_._1.takeWhile(_ != '#')).map { case (k, m) =>
      val xs = m.values.map(_ / 1e6).toSeq
      k -> Map("ops" -> xs.size, "median_ms" -> Workloads.median(xs), "mean_ms" -> xs.sum / xs.size)
    }
    val counters = tr.counters
    val spans = tr.all
    val selfS = tr.selfSecondsByLayer
    val sparkVersion = spark.version
    spark.stop()
    c.phase("stopped")
    val load1 = loadavg()
    val failed = c.threw.get() + c.wrong.get()
    val attempted = c.attempted.get()

    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> ((setupCpuS, "s")),
      "op_cpu_ms" -> ((opCpu, "ms")),
      "read_cpu_ms" -> ((o.readCpuMs, "ms")))
    val rss = peakRssMb()
    val layer = if (trace) PerLayer(o, c, spans, counters, selfS, e2e, rss) else mutable.LinkedHashMap.empty[String, (Double, String)]
    val shown = if (trace) layer else e2e
    val correct = c.wrong.get() == 0 && attempted > 0

    val env = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "nproc" -> Runtime.getRuntime.availableProcessors(), "cores_used" -> cores,
      "loadavg_start" -> load0, "loadavg_end" -> load1,
      "java" -> System.getProperty("java.version"), "spark" -> sparkVersion,
      "scala" -> scala.util.Properties.versionNumberString)
    println(s"perfbench $workload seed=$seed seconds=$seconds trace=${if (trace) 1 else 0}")
    env.foreach { case (k, v) => println(s"  env $k = $v") }
    println(f"  session_start_s = $sessionS%.3f s; setup_wall_s = ${sessionS + o.setupS}%.3f s")
    println("  phases (wall/cpu/steal s): " + c.phases.map { case (n, t, u, st) => f"$n $t%.1f/$u%.1f/$st%.1f" }.mkString(", "))
    o.named.foreach { case (n, v, u) => println(s"  $workload.$n = ${fmt(v)} $u") }
    (e2e ++ layer).foreach { case (n, (v, u)) => println(s"  metric $n = ${fmt(v)} $u") }
    println(s"  correct = $correct; attempted = $attempted; threw = ${c.threw.get()}; wrong = ${c.wrong.get()}")
    c.notes.foreach(n => println(s"  note: $n"))

    Files.createDirectories(out.getParent)
    Files.writeString(out, Json.obj(mutable.LinkedHashMap[String, Any](
      "env" -> env, "correct" -> correct, "attempted" -> attempted, "threw" -> c.threw.get(),
      "wrong" -> c.wrong.get(), "notes" -> c.notes.toSeq,
      "session_start_s" -> sessionS, "setup_wall_s" -> (sessionS + o.setupS),
      "phases" -> c.phases.map { case (n, t, u, st) => Map("phase" -> n, "wall_s" -> t, "cpu_s" -> u, "steal_s" -> st) },
      "peak_rss_mb" -> rss, "cpu_by_op_kind" -> cpuByKind,
      "cpu_by_op" -> c.cpu.perOpNs.toSeq.sortBy(_._1.dropWhile(_ != '#').drop(1).toLong)
        .map { case (tag, ns) => Map("op" -> tag, "cpu_ms" -> ns / 1e6) },
      "end_to_end" -> e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "workload_metrics" -> o.named.map { case (n, v, u) => Map("name" -> n, "value" -> v, "unit" -> u) },
      "per_layer" -> layer.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "spans" -> spans.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "thread" -> s.thread, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))))

    println(Json.obj(mutable.LinkedHashMap[String, Any](
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> shown.map { case (k, (v, u)) => k -> mutable.LinkedHashMap("value" -> v, "unit" -> u) })))
  }

  /** Local cores the session uses: the machine's, capped at four. */
  val cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())

  private def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def loadavg(): String =
    try Files.readString(Paths.get("/proc/loadavg")).trim catch { case _: Exception => "unavailable" }

  /** The JVM's resident-set high-water mark (VmHWM), in MB. */
  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))

  def fmt(v: Double): String = String.format(Locale.ROOT, "%.6g", Double.box(v))
}

/** Minimal JSON rendering for the result line and record file. */
object Json {
  def obj(m: collection.Map[String, Any]): String =
    m.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
      case ch if ch < ' ' => f"\\u${ch.toInt}%04x"; case ch => ch.toString
    } + "\""

  private def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] => obj(m.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ", ", "]")
    case o => str(o.toString)
  }
}

/** Assembles the per-layer metrics of a traced run from its spans, the
  * listener's per-span counters and the workload's own counts. Layers a
  * workload does not exercise read 0. */
object PerLayer {
  /** Spans whose Spark task counters are reported. */
  val CounterSpans: Seq[String] = Seq("functions.embed", "functions.query_embed", "sources.index_open",
    "operators.topk", "sources.upsert", "operators.dedup_gate")

  def apply(o: Outcome, c: Ctx, spans: Seq[Span], counters: Map[String, Counters],
            selfS: Map[String, Double], e2e: collection.Map[String, (Double, String)], rssMb: Double)
      : mutable.LinkedHashMap[String, (Double, String)] = {
    val byName = spans.groupBy(_.name).view.mapValues(_.map(_.ms)).toMap
    def n(span: String): Int = byName.get(span).map(_.size).getOrElse(0)
    def ms(span: String): Double = byName.get(span).map(Workloads.median(_)).getOrElse(0.0)
    def s(span: String): Double = ms(span) / 1000
    def per(span: String)(f: Counters => Long): Double =
      counters.get(span).filter(_ => n(span) > 0).map(k => f(k).toDouble / n(span)).getOrElse(0.0)
    def acc(k: String): Double = c.layerAcc.getOrElse(k, 0.0)
    def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0
    def tot(span: String)(f: Counters => Long): Double = counters.get(span).map(f(_).toDouble).getOrElse(0.0)
    val m = mutable.LinkedHashMap[String, (Double, String)](
      "sources.scan_s" -> ((s("sources.scan"), "s")),
      "sources.scan_bytes" -> ((per("sources.scan")(_.inputBytes), "bytes")),
      "operators.chunk_s" -> ((s("operators.chunk"), "s")),
      "operators.chunk_elements" -> ((ratio(acc("chunk_elements"), n("operators.chunk")), "count")),
      "functions.embed_s" -> ((s("functions.embed"), "s")),
      "functions.embed_shuffle_bytes" -> ((per("functions.embed")(_.shuffleBytes), "bytes")),
      "sources.upsert_s" -> ((s("sources.upsert"), "s")),
      "sources.upsert_bytes_written" -> ((per("sources.upsert")(_.outputBytes), "bytes")),
      "sources.upsert_rows_rewritten_per_row_ingested" ->
        ((ratio(tot("sources.upsert")(_.outputRecords), acc("upsert_rows_ingested")), "rows/row")),
      "sources.summaries_s" -> ((s("sources.summaries"), "s")),
      "functions.query_embed_ms" -> ((ms("functions.query_embed"), "ms")),
      "sources.index_open_ms" -> ((ms("sources.index_open"), "ms")),
      "operators.topk_ms" -> ((ms("operators.topk"), "ms")),
      "operators.rows_examined_per_result" ->
        ((ratio(tot("operators.topk")(_.inputRecords), acc("topk_results")), "rows/row")),
      "sources.ivf_probe_ms" -> ((ms("sources.ivf_probe"), "ms")),
      "sources.ivf_cells_read_frac" ->
        ((ratio(per("sources.ivf_probe")(_.inputRecords), o.layer.getOrElse("index_rows", 0.0)), "ratio")),
      "sources.ivf_recall_at_10" -> ((o.layer.getOrElse("sources.ivf_recall_at_10", 0.0), "ratio")),
      "operators.diagnostics_ms" -> ((ms("operators.diagnostics"), "ms")),
      "operators.defs_refs_ms" -> ((ms("operators.defs_refs"), "ms")),
      "operators.dedup_gate_s" -> ((s("operators.dedup_gate"), "s")),
      "operators.dedup_candidates" -> ((ratio(acc("dedup_candidates"), n("operators.dedup_gate")), "count")),
      "operators.dedup_verify_yield" -> ((ratio(acc("dedup_pairs"), acc("dedup_candidates")), "ratio")),
      "sources.swap_ms" -> ((if (c.swapMs.isEmpty) 0.0 else Workloads.median(c.swapMs.toSeq), "ms")),
      "reader.failed_reads" -> ((o.layer.getOrElse("reader.failed_reads", 0.0), "count")),
      "sources.write_amp" -> ((o.layer.getOrElse("write_amp", 0.0), "bytes/byte")),
      )
    for (sp <- CounterSpans) {
      m(s"$sp.jobs") = (per(sp)(_.jobs), "count")
      m(s"$sp.tasks") = (per(sp)(_.tasks), "count")
      m(s"$sp.busy_ms") = (per(sp)(_.busyMs), "ms")
      m(s"$sp.sched_wait_ms") = (per(sp)(_.schedWaitMs), "ms")
      m(s"$sp.shuffle_bytes") = (per(sp)(_.shuffleBytes), "bytes")
      m(s"$sp.spill_bytes") = (per(sp)(_.spillBytes), "bytes")
      m(s"$sp.failed_tasks") = (per(sp)(_.failedTasks), "count")
    }
    val ops = c.attempted.get().toDouble
    for (l <- Seq("graft", "sources", "operators", "functions"))
      m(s"$l.self_ms_per_op") = (ratio(selfS.getOrElse(l, 0.0) * 1000, ops), "ms")
    m("peak_rss_mb") = (rssMb, "MB")
    m("op_fail_frac") = (ratio((c.threw.get() + c.wrong.get()).toDouble, ops), "ratio")
    e2e.foreach { case (k, (v, u)) => m(s"traced.$k") = (v, u) }
    m
  }
}
