package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{AnalysisException, DataFrame, Dataset, Encoders, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.{BenchAccess, Graft}
import graft.functions.Embedder
import graft.operators.{CorpusOps, Curation, Dedup, Diagnostics, SymbolNav}
import graft.sources.IndexBuild

/** What a workload measured. `setupS` is its set-up wall time after the
  * session started (input generation, index build, warm-up); `opKind` the
  * op kind whose median CPU is `op_cpu_ms`; `readCpuMs` the CPU of its read
  * ops; `named` the workload's own metrics (name, value, unit), wall-clock
  * latencies among them; `layer` the per-layer values only a workload can
  * compute (ratios, counts, recall). */
final case class Outcome(setupS: Double, opKind: String, readCpuMs: Double,
                         named: Vector[(String, Double, String)], layer: Map[String, Double])

/** Shared state of one run: the session, tracer, seed, window length, a
  * private work directory, and the op accounting. */
final class Ctx(val spark: SparkSession, val tr: Tracer, val seed: Long, val seconds: Int, val work: Path) {
  val attempted = new AtomicLong
  val threw = new AtomicLong
  val wrong = new AtomicLong
  val notes: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  private val dirs = new AtomicLong

  def freshDir(prefix: String): Path = work.resolve(s"$prefix-${dirs.incrementAndGet()}")

  /** CPU accounting per op kind: the calling thread's CPU, plus (through
    * [[CpuListener]]) the executor CPU of every Spark job the op submits,
    * which run under the local property [[Ctx.OpKind]]. */
  val cpu = new CpuListener
  spark.sparkContext.addSparkListener(cpu)
  private val threadCpu = java.lang.management.ManagementFactory.getThreadMXBean

  /** Runs one timed operation of kind `kind`; an exception counts as a
    * failed op. Returns the result and its wall milliseconds. */
  def timed[T](kind: String)(body: => T): Option[(T, Double)] = {
    attempted.incrementAndGet()
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Ctx.OpKind)
    val tag = s"$kind#${opIds.incrementAndGet()}"
    sc.setLocalProperty(Ctx.OpKind, tag)
    val c0 = threadCpu.getCurrentThreadCpuTime
    val t0 = System.nanoTime()
    try { val r = body; Some((r, (System.nanoTime() - t0) / 1e6)) }
    catch { case e: Exception => threw.incrementAndGet(); note(s"threw: ${e.getClass.getSimpleName}: ${firstLine(e)}"); None }
    finally {
      cpu.addCaller(tag, threadCpu.getCurrentThreadCpuTime - c0)
      sc.setLocalProperty(Ctx.OpKind, prev)
    }
  }

  private val opIds = new AtomicLong

  /** CPU milliseconds of each op of the given kinds. */
  def cpuMs(kinds: String*): Seq[Double] = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val k = kinds.toSet
    cpu.perOpNs.collect { case (tag, ns) if k(tag.takeWhile(_ != '#')) => ns / 1e6 }.toSeq
  }

  /** Records one correctness check's outcome, outside any timed window. */
  def check(ok: Boolean, what: => String): Boolean = {
    if (!ok) { wrong.incrementAndGet(); note(s"wrong: $what") }
    ok
  }

  def note(s: String): Unit = notes.synchronized { if (notes.size < 20) notes += s; () }

  private def firstLine(e: Throwable): String =
    Option(e.getMessage).map(_.linesIterator.nextOption().getOrElse("")).getOrElse("").take(200)

  def deadlineNs: Long = System.nanoTime() + seconds * 1000000000L

  /** Per-layer sums only the traced decomposition can count. */
  val layerAcc: mutable.Map[String, Double] = mutable.Map.empty
  def layerAdd(k: String, v: Double): Unit = layerAcc.synchronized { layerAcc(k) = layerAcc.getOrElse(k, 0.0) + v }

  /** Swap windows: wall time from the upsert's last Spark job to the end
    * of its span — the rename/delete tail readers can observe. */
  val swapMs: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
  def layerSwap(tr: Tracer): Unit = {
    val endMs = System.currentTimeMillis()
    tr.counters.get("sources.upsert").foreach(k => swapMs += (endMs - k.lastJobEndMs).toDouble)
  }

  /** Marks of the run's phases: (name, wall seconds since JVM start, CPU
    * seconds the JVM process has used, CPU seconds the host stole from
    * the host since JVM start). */
  val phases: mutable.ArrayBuffer[(String, Double, Double, Double)] = mutable.ArrayBuffer.empty
  private val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  private val steal0 = Ctx.stealS()
  def phase(name: String): Unit = phases.synchronized {
    phases += ((name, (System.currentTimeMillis() - jvmStartMs) / 1000.0, Ctx.cpuS(), Ctx.stealS() - steal0)); ()
  }

  def files(fs: Seq[GenFile]): Dataset[(String, String)] =
    spark.createDataset(fs.map(f => (f.path, f.content)))(Encoders.tuple(Encoders.STRING, Encoders.STRING))
}

object Ctx {
  /** Spark local property naming the op kind a job belongs to. */
  val OpKind = "perfbench.op"

  /** CPU seconds used by this JVM, all threads. */
  def cpuS(): Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Machine-wide CPU seconds stolen by the hypervisor (`/proc/stat`). */
  def stealS(): Double =
    try {
      val f = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      if (f.length > 8) f(8).toDouble / 100 else 0.0
    } catch { case _: Exception => 0.0 }
}

object Workloads {
  /** Files in the index `serve` and `ingest` run against. */
  val TreeFiles = 24
  /** Batches `ingest` measures at least, past the window if need be, so
    * its median has more than one sample. */
  val MinBatches = 2
  /** Closed-loop ops each `serve` client runs untimed before the window. */
  val WarmUpOpsPerClient = 12
  /** Reader rounds after each batch in the sequential `ingest`. The first
    * read after a batch opens the swapped table and costs about twice a
    * later one; with three rounds, most reads are later ones, so the
    * median read is one of them and does not fall between the two. */
  val ReadsPerBatch = 3
  /** Documents in the `curate` corpus. */
  val CurateDocs = 500

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  // ------------------------------------------------------------- index path

  /** `Graft.indexCodebase`; traced, the same pipeline run as its layer
    * calls (scan → chunk → embed → upsert → summaries), each in a span.
    * Returns (files, elements indexed, elements embedded). */
  def indexCodebase(c: Ctx, root: Path, idx: Path, traced: Boolean): (Long, Long, Long) = {
    val spark = c.spark
    import spark.implicits._
    if (!traced) {
      val r = Graft.indexCodebase(spark, root.toString, idx.toString).collect()(0)
      return (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val tr = c.tr
    tr.span("graft.indexCodebase") {
      val files = tr.span("sources.scan") {
        val f = IndexBuild.scanFiles(spark, root.toString).cache(); f.count(); f
      }
      val (chunked, nChunked) = tr.span("operators.chunk") {
        val ch = IndexBuild.chunkedElements(files).cache(); (ch, ch.count())
      }
      c.layerAdd("chunk_elements", nChunked.toDouble)
      try {
        val existing =
          try Some(spark.read.parquet(s"$idx/code_elements")) catch { case _: AnalysisException => None }
        val (elements, fresh, nEmbedded) = existing match {
          case None =>
            val all = tr.span("functions.embed") {
              val a = IndexBuild.embedElements(chunked).cache(); a.count(); a
            }
            (all, all, nChunked)
          case Some(old) =>
            val toEmbed = chunked.join(old.select("id"), Seq("id"), "left_anti")
            val kept = old.join(chunked.select("id"), Seq("id"), "left_semi")
            val (fr, n) = tr.span("functions.embed") {
              val f = IndexBuild.embedElements(toEmbed).cache(); (f, f.count())
            }
            (kept.select(fr.columns.toIndexedSeq.map(col): _*).unionByName(fr), fr, n)
        }
        tr.span("sources.upsert") {
          IndexBuild.upsertIndex(spark, idx.toString, elements,
            currentFiles = Some(files.map(_._1).toDF("file_path")))
        }
        c.layerAdd("upsert_rows_ingested", nEmbedded.toDouble)
        fresh.unpersist()
        tr.span("sources.summaries") {
          IndexBuild.buildSummaries(files, spark.read.parquet(s"$idx/code_elements"))
            .write.mode(SaveMode.Overwrite).parquet(s"$idx/file_summaries")
        }
        val nFiles = files.count()
        val nElements = spark.read.parquet(s"$idx/code_elements").count()
        Seq((nFiles, nElements, nEmbedded, 0L))
          .toDF("files_indexed", "elements_indexed", "elements_embedded", "errors")
          .coalesce(1).write.mode(SaveMode.Overwrite).json(s"$idx/indexing_report")
        (nFiles, nElements, nEmbedded)
      } finally {
        chunked.unpersist(); files.unpersist()
        spark.sharedState.cacheManager.clearCache()
      }
    }
  }

  /** The index's element set must equal the manifest's, element by element. */
  private def checkIndex(c: Ctx, idx: Path, tree: Seq[GenFile], what: String): Boolean = {
    val got = c.spark.read.parquet(s"$idx/code_elements")
      .select("id", "file_path", "name", "element_type", "start_line", "end_line").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3), r.getInt(4), r.getInt(5))).toSet
    val want = tree.flatMap(_.elems).map(e => (e.id, e.path, e.name, e.etype, e.start, e.end)).toSet
    val nSum = c.spark.read.parquet(s"$idx/file_summaries").count()
    c.check(got == want && nSum == tree.size,
      s"$what: ${(want -- got).size} expected elements missing, ${(got -- want).size} unexpected, summaries $nSum/${tree.size} " +
        (want -- got).take(2).mkString(" ") + " | " + (got -- want).take(2).mkString(" "))
  }

  // ------------------------------------------------------------------ serve

  /** A built index with its IVF layout, plus the reference universe. */
  final class Served(val tree: Vector[GenFile], val idx: Path) {
    val items: Vector[Check.Item] = tree.flatMap(_.elems.map(Check.item))
    val files: Vector[Check.Item] = tree.map(f =>
      Check.Item(f.path, "", "", Check.embed(s"File ${f.path} contains ${f.elems.size} code elements")))
    val docs: Vector[(Long, String)] = tree.indices.map(i => (i.toLong, tree(i).content)).toVector
    val diagFiles: Vector[GenFile] = tree.filter(_.diags.nonEmpty)
    val symbols: Vector[String] = tree.flatMap(_.defs).map(_.toLowerCase(java.util.Locale.ROOT))
  }

  /** Generates the tree, writes it and builds its index, checked against
    * the manifest.
    * The build is traced only in `serve`, so `ingest`'s embed and upsert
    * spans describe its batches alone. Returns the served index, the named
    * build metrics and the set-up wall time. */
  private def indexedTree(c: Ctx, traceBuild: Boolean): (Served, Vector[(String, Double, String)], Double) = {
    val t0 = System.nanoTime()
    val tree = Gen.tree(c.seed, TreeFiles)
    c.phase("generated")
    val idx = c.freshDir("index")
    val root = c.freshDir("tree"); Gen.writeTree(root, tree)
    var named = Vector.empty[(String, Double, String)]
    c.timed("setup.cold_build")(indexCodebase(c, root.toRealPath(), idx, c.tr.enabled && traceBuild)).foreach {
      case ((nf, ne, nemb), ms) =>
        named = Vector(("cold_build_s", ms / 1000, "s"), ("build_elements_per_s", ne / (ms / 1000), "elements/s"))
        c.check(nf == tree.size && ne == tree.map(_.elems.size).sum && nemb == ne, s"cold build report $nf/$ne/$nemb")
        checkIndex(c, idx, tree, "cold build")
    }
    c.phase("cold_build")
    (new Served(tree, idx), named, secs(t0))
  }

  private def rows(df: DataFrame): Vector[(String, Double)] =
    df.select("id", "similarity").collect().map(r => (r.getString(0), r.getDouble(1))).toVector

  /** `Graft.searchCode`; traced, as index open → query embed → top-k. */
  def searchCode(c: Ctx, idx: Path, q: String, et: Option[String], ft: Option[String]): Vector[(String, Double)] = {
    val spark = c.spark
    import spark.implicits._
    if (!c.tr.enabled) return rows(Graft.searchCode(spark, idx.toString, q, 10, et.toSeq, ft))
    c.tr.span("graft.searchCode") {
      val table = s"$idx/code_elements"
      val index = c.tr.span("sources.index_open") { BenchAccess.recoverSwap(spark, table); spark.read.parquet(table) }
      c.tr.span("functions.query_embed") { Embedder.embed(Seq((0L, q)).toDF("doc_id", "text")).collect() }
      val got = c.tr.span("operators.topk") { rows(IndexBuild.searchElementsTable(index, q, 10, et, ft)) }
      c.layerAdd("topk_results", got.size.toDouble)
      got
    }
  }

  def fileContext(c: Ctx, idx: Path, path: String): Vector[(String, String, Int, Int)] = {
    val spark = c.spark
    def shape(df: DataFrame) = df.collect().map(r => (r.getString(1), r.getString(2), r.getInt(3), r.getInt(4))).toVector
    if (!c.tr.enabled) return shape(Graft.getFileContext(spark, idx.toString, path))
    c.tr.span("graft.getFileContext") {
      val table = s"$idx/code_elements"
      val index = c.tr.span("sources.index_open") { BenchAccess.recoverSwap(spark, table); spark.read.parquet(table) }
      shape(index.filter(col("file_path") === path).orderBy(asc("start_line"), asc("id")).limit(20)
        .select(col("id"), col("name"), col("element_type"), col("start_line"), col("end_line"), col("docstring")))
    }
  }

  private def expectedContext(f: GenFile): Vector[(String, String, Int, Int)] =
    f.elems.sortBy(e => (e.start, e.id)).take(20).map(e => (e.name, e.etype, e.start, e.end))

  def serve(c: Ctx): Outcome = {
    val spark = c.spark
    import spark.implicits._
    val (s, built, builtS) = indexedTree(c, traceBuild = true)
    val t1 = System.nanoTime()
    c.tr.span("sources.write_layout") { IndexBuild.writeSearchLayout(spark, s.idx.toString) }
    val docsDf = s.docs.toDF("doc_id", "text").cache()
    docsDf.count()
    val pool = new Gen.QueryPool(c.seed, 200)
    val nIndexRows = s.items.size.toDouble
    val lat = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val recalls = mutable.ArrayBuffer.empty[Double]
    val checks = mutable.ArrayBuffer.empty[() => Unit]

    /** One op of the read mix: runs it timed, queues its check. `x` in
      * [0, 100) picks the kind by the mix shares; `variant` the
      * `searchCode` filter (none, element type, file type). */
    def op(r: scala.util.Random, record: Boolean, x: Int, variant: Int): Unit = {
      def run[T](kind: String, body: => T)(verify: T => Unit): Unit =
        c.timed(if (record) kind else s"setup.$kind")(body).foreach { case (res, ms) =>
          if (record) lat.synchronized { lat.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms }
          checks.synchronized { checks += (() => verify(res)) }
        }
      if (x < 50) {
        val q = pool.draw(r)
        val (et, ft) = variant match {
          case 0 => (None, None)
          case 1 => (Some(if (r.nextBoolean()) "function" else "class"), None)
          case _ => (None, Some(if (r.nextBoolean()) ".py" else ".ts"))
        }
        run("search_code", searchCode(c, s.idx, q, et, ft)) { got =>
          val u = s.items.filter(i => et.forall(_ == i.etype) && ft.forall(_ == i.ftype))
          c.check(Check.validTopK(got, u, q, 10), s"searchCode '$q' $et $ft: $got")
        }
      } else if (x < 65) {
        val q = pool.draw(r)
        run("search_ivf", c.tr.span("sources.ivf_probe") {
          rows(IndexBuild.searchIndexIvf(spark, s.idx.toString, q, 10))
        }) { got =>
          val (ok, rec) = Check.approxTopK(got, s.items, q, 10)
          recalls.synchronized { recalls += rec }
          c.check(ok, s"searchIndexIvf '$q': $got")
        }
      } else if (x < 75) {
        val q = pool.draw(r)
        run("search_files", c.tr.span("graft.searchFiles") {
          if (c.tr.enabled) c.tr.span("functions.query_embed") {
            Embedder.embed(Seq((0L, q)).toDF("doc_id", "text")).collect()
          }
          c.tr.span("sources.file_search") {
            Graft.searchFiles(spark, s.idx.toString, q, 5).select("file_path", "similarity")
              .collect().map(r => (r.getString(0), r.getDouble(1))).toVector
          }
        }) { got => c.check(Check.validTopK(got, s.files, q, 5), s"searchFiles '$q': $got") }
      } else if (x < 90) {
        val f = s.tree(r.nextInt(s.tree.size))
        run("file_context", fileContext(c, s.idx, f.path)) { got =>
          c.check(got == expectedContext(f), s"getFileContext ${f.path}: $got")
        }
      } else if (x < 95) {
        val f = s.diagFiles(r.nextInt(s.diagFiles.size))
        run("diagnostics", c.tr.span("graft.getDiagnostics") {
          c.tr.span("operators.diagnostics") {
            val df = if (c.tr.enabled) Diagnostics.codeDiagnostics(Seq((f.path, f.content)).toDF("file_path", "content"))
              else Graft.getDiagnostics(spark, f.path, f.content)
            df.select("error_count", "warning_count", "messages").collect()
          }
        }) { got =>
          val want = f.diags.sortBy(d => (d.line, d.severity, d.message)).map(d => s"${d.line}:${d.severity}:${d.message}")
          val ok = got.length == 1 && got(0).getLong(0) == f.diags.count(_.severity == "error") &&
            got(0).getLong(1) == f.diags.count(_.severity == "warning") && got(0).getString(2) == want.mkString("; ")
          c.check(ok, s"getDiagnostics ${f.path}: ${got.mkString}")
        }
      } else {
        val syms = Vector.fill(3)(s.symbols(r.nextInt(s.symbols.size))).distinct
        run("symbol_nav", c.tr.span("graft.symbolNavigation") {
          c.tr.span("operators.defs_refs") {
            val df = if (c.tr.enabled) SymbolNav.defsAndRefs(docsDf, syms) else Graft.symbolNavigation(docsDf, syms)
            df.collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
          }
        }) { got => c.check(got == Check.defsAndRefs(s.docs, syms), s"symbolNavigation $syms: $got") }
      }
    }

    /** The closed loop: two client threads, each dealing its ops from
      * `first`, then from a shuffled deck of 20 that holds the mix's exact
      * shares, so every run measures the same proportions, while
      * `more(ops done)` holds. */
    def clients(stream: Long, record: Boolean, first: Vector[Int])(more: Long => Boolean): Unit = {
      val deck = (Seq.fill(10)(0) ++ Seq.fill(3)(50) ++ Seq.fill(2)(65) ++ Seq.fill(3)(75) ++ Seq(90, 95)).toVector
      val threads = (0 until 2).map { t =>
        val r = Gen.random(c.seed, stream + t)
        val th = new Thread(() => {
          var i = 0L
          var hand = first
          // searchCode's filter variants take turns, so each is a third of them
          var variant = 0
          while (more(i)) {
            if (hand.isEmpty) hand = r.shuffle(deck)
            val x = hand.head
            hand = hand.tail
            c.tr.op((stream + t) * 1000000L + i)(op(r, record, x, variant))
            if (x < 50) variant = (variant + 1) % 3
            i += 1
          }
        })
        th.setName(s"client-$t"); th.start(); th
      }
      threads.foreach(_.join())
    }

    // warm-up, part of set-up: each client runs every op kind and
    // searchCode filter first, then deals from its deck, so the window
    // starts past the steepest part of the JIT's warm-up
    c.phase("layout")
    clients(500L, record = false, Vector(0, 0, 0, 50, 65, 75, 90, 95))(_ < WarmUpOpsPerClient)
    val setupS = builtS + secs(t1)
    c.phase("warm_up")

    val end = c.deadlineNs
    val t0 = System.nanoTime()
    clients(1000L, record = true, Vector.empty)(_ => System.nanoTime() < end)
    val window = secs(t0)
    c.phase("window")
    checks.foreach(_())
    c.phase("checks")
    docsDf.unpersist()
    val sc = lat.getOrElse("search_code", mutable.ArrayBuffer.empty).toVector
    val total = lat.values.map(_.size).sum
    val (tailLabel, tail) = tailOf(sc)
    // the mix's shares weigh each kind's median CPU, so neither where the
    // window cut the deck nor one slow op moves the figure
    val share = Map("search_code" -> 50.0, "search_ivf" -> 15.0, "search_files" -> 10.0,
      "file_context" -> 15.0, "diagnostics" -> 5.0, "symbol_nav" -> 5.0).filter(k => lat.contains(k._1))
    val readCpu = share.map { case (k, w) => w * median(c.cpuMs(k)) }.sum / share.values.sum
    Outcome(setupS, "search_code", readCpu,
      built ++ Vector(("search_code_p50_ms", median(sc), "ms"),
        (s"search_code_${tailLabel}_ms", tail, "ms"),
        ("search_ivf_p50_ms", median(lat.getOrElse("search_ivf", Nil).toSeq), "ms"),
        ("search_files_p50_ms", median(lat.getOrElse("search_files", Nil).toSeq), "ms"),
        ("file_context_p50_ms", median(lat.getOrElse("file_context", Nil).toSeq), "ms"),
        ("diagnostics_p50_ms", median(lat.getOrElse("diagnostics", Nil).toSeq), "ms"),
        ("symbol_nav_p50_ms", median(lat.getOrElse("symbol_nav", Nil).toSeq), "ms"),
        ("serve_ops_per_s", (total - c.wrong.get()) / window, "ops/s"),
        ("search_code_samples", sc.size.toDouble, "count")),
      Map("sources.ivf_recall_at_10" -> median(recalls.toSeq),
        "index_rows" -> nIndexRows))
  }

  /** The highest percentile with at least ten samples beyond it. */
  def tailOf(xs: Seq[Double]): (String, Double) = {
    val s = xs.sorted
    if (s.size < 11) ("max", s.lastOption.getOrElse(Double.NaN))
    else {
      val i = s.size - 11
      (f"p${100.0 * (i + 1) / s.size}%.0f", s(i))
    }
  }

  // ----------------------------------------------------------------- ingest

  private def snapshot(dir: Path): Map[String, (Long, Long)] =
    if (!Files.exists(dir)) Map.empty
    else Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
      p.toString -> ((Files.size(p), Files.getLastModifiedTime(p).toMillis))
    }.toMap

  /** `Graft.ingestBatch`; traced, as chunk+embed → index open → near-dup
    * gate → upsert, each in a span. Returns the (id, action) report. */
  def ingestBatch(c: Ctx, idx: Path, batch: Dataset[(String, String)]): Vector[(String, String)] = {
    val spark = c.spark
    def shape(df: DataFrame) = df.select("id", "action").collect().map(r => (r.getString(0), r.getString(1))).toVector
    if (!c.tr.enabled) return shape(Graft.ingestBatch(spark, idx.toString, batch))
    val tr = c.tr
    tr.span("graft.ingestBatch") {
      val fresh = tr.span("functions.embed") { val f = IndexBuild.buildElements(batch).cache(); f.count(); f }
      val table = s"$idx/code_elements"
      val existing = tr.span("sources.index_open") { BenchAccess.recoverSwap(spark, table); spark.read.parquet(table) }
      val batchDocs = fresh.select(col("id").as("doc_id"), col("content").as("text"))
      val corpusDocs = existing.join(fresh.select("file_path").distinct(), Seq("file_path"), "left_anti")
        .select(col("id").as("doc_id"), col("content").as("text"))
      val (pairs, caches) = Dedup.minhashAgainstWith(batchDocs, corpusDocs, 0.9)
      try {
        val dup = tr.span("operators.dedup_gate") { pairs.select("batch_doc").collect().map(_.getString(0)).toSet }
        val nPairs = pairs.count()
        val cand = tr.span("operators.dedup_candidates") {
          val b = Dedup.minhashArtifactsWith(batchDocs, 0.9)
          val k = Dedup.minhashArtifactsWith(corpusDocs, 0.9)
          val n = b.bands.as("x").join(k.bands.as("y"),
              col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") && col("x.doc_id") =!= col("y.doc_id"))
            .select(col("x.doc_id"), col("y.doc_id")).distinct().count()
          (b.handles ++ k.handles).foreach(_.unpersist())
          n
        }
        c.layerAdd("dedup_pairs", nPairs.toDouble); c.layerAdd("dedup_candidates", cand.toDouble)
        val report = fresh.select("id", "file_path").collect()
          .map(r => (r.getString(0), if (dup(r.getString(0))) "near_dup" else "ingested")).sortBy(_._1).toVector
        val survivors = fresh.filter(col("id").isin(report.filter(_._2 == "ingested").map(_._1): _*))
        c.layerAdd("upsert_rows_ingested", report.count(_._2 == "ingested").toDouble)
        tr.span("sources.upsert") {
          IndexBuild.upsertIndex(spark, idx.toString, survivors, refreshFiles = Some(fresh.select("file_path")))
        }
        c.layerSwap(tr)
        report
      } finally { caches.foreach(_.unpersist()); fresh.unpersist() }
    }
  }

  /** `ingest`: batches and reader rounds alternate on one thread, so no
    * read overlaps a swap. `concurrent`: the reader runs on its own thread
    * beside the writer, and its reads during `swapInto` fail (a known
    * defect, counted in `failed`, not retried); that variant is run by
    * hand, since its failure count varies from run to run. */
  def ingest(concurrent: Boolean)(c: Ctx): Outcome = {
    val (s, built, builtS) = indexedTree(c, traceBuild = false)
    val t1 = System.nanoTime()
    val batches = Gen.batches(c.seed, s.tree, 16, nNew = 2, nEdit = 2, nCopy = 2)
    val touched = batches.flatMap(_.files.map(_.path)).toSet
    val stable = s.tree.filterNot(f => touched(f.path))
    val stableIds = stable.flatMap(_.elems.map(_.id)).toSet
    // every element any index state can hold, for checking reader answers
    val everItem = (s.items ++ batches.flatMap(_.files.flatMap(_.elems.map(Check.item)))).map(i => i.key -> i).toMap
    val pool = new Gen.QueryPool(c.seed, 200)
    val ingestMs = mutable.ArrayBuffer.empty[Double]
    val readMs = mutable.ArrayBuffer.empty[Double]
    var bytesWritten, bytesIngested = 0L
    val table = s.idx.resolve("code_elements")
    val readerFailed = new AtomicLong
    var readsDone = 0L
    val readChecks = mutable.ArrayBuffer.empty[() => Unit]

    /** One ingest batch, timed; its dispositions, the freshness of the
      * batch's files in the index and the bytes it wrote are checked or
      * measured after the timer stops. */
    def ingestOne(b: Int, record: Boolean): Unit = {
      val batch = batches(b)
      val ds = c.files(batch.files)
      val before = snapshot(table)
      c.tr.op(b.toLong) {
        c.timed(if (record) "ingest_batch" else "setup.ingest_batch")(ingestBatch(c, s.idx, ds)).foreach { case (report, ms) =>
          val after = snapshot(table)
          if (record) {
            ingestMs += ms
            bytesWritten += after.collect { case (p, (sz, mt)) if !before.get(p).contains((sz, mt)) => sz }.sum
            bytesIngested += batch.bytes
          }
          c.check(report.toMap == batch.expected && report.size == batch.expected.size,
            s"ingest batch $b dispositions: ${(report.toSet -- batch.expected.toSet).take(3)}")
          val paths = batch.files.map(_.path)
          val now = c.spark.read.parquet(table.toString).filter(col("file_path").isin(paths: _*))
            .select("id").collect().map(_.getString(0)).toSet
          c.check(now == batch.expected.filter(_._2 == "ingested").keySet,
            s"ingest batch $b freshness: ${now.size} indexed ids")
        }
      }
    }

    /** One reader round: `searchCode` then `getFileContext` on a file no
      * batch touches. Answers are checked later against every element any
      * index state can hold; elements no batch touches must rank where
      * their similarity puts them. */
    def readOne(r: scala.util.Random, record: Boolean): Unit = {
      val q = pool.draw(r)
      val read = c.timed(if (record) "reader.search_code" else "setup.reader")(searchCode(c, s.idx, q, None, None))
      if (read.isEmpty && record) readerFailed.incrementAndGet()
      read.foreach { case (got, ms) =>
        if (record) { readMs += ms; readsDone += 1 }
        readChecks += (() => {
          val sims = got.flatMap(g => everItem.get(g._1).map(it => (it, g._2)))
          val qe = Check.embed(q); val qn = math.sqrt(qe.map(x => x * x).sum)
          val okSims = sims.size == got.size && got.size == 10 &&
            sims.forall { case (it, sim) => math.abs(Check.cosine(it, qe, qn) - sim) <= 1e-6 }
          val worst = if (sims.isEmpty) 1.0 else sims.map(t => Check.cosine(t._1, qe, qn)).min
          val ids = got.map(_._1).toSet
          val okTop = stableIds.forall(id => ids(id) || Check.cosine(everItem(id), qe, qn) <= worst + 1e-9)
          c.check(okSims && okTop, s"reader searchCode '$q': $got")
        })
      }
      val f = stable(r.nextInt(stable.size))
      val ctx = c.timed(if (record) "reader.file_context" else "setup.reader")(fileContext(c, s.idx, f.path))
      if (ctx.isEmpty && record) readerFailed.incrementAndGet()
      ctx.foreach { case (got, _) =>
        if (record) readsDone += 1
        readChecks += (() => c.check(got == expectedContext(f), s"reader getFileContext ${f.path}: $got"))
      }
    }

    // warm-up, part of set-up: the first batch and one reader round
    ingestOne(0, record = false)
    readOne(Gen.random(c.seed, 1999L), record = false)
    val setupS = builtS + secs(t1)
    c.phase("warm_up")

    @volatile var writing = true
    val end = c.deadlineNs
    val t0 = System.nanoTime()
    val r = Gen.random(c.seed, 2000L)
    var i = 0L
    def readRound(): Unit = { c.tr.op(2000000L + i)(readOne(r, record = true)); i += 1 }
    val reader = if (!concurrent) None else Some(new Thread(() => while (writing) readRound()))
    reader.foreach { t => t.setName("reader"); t.start() }
    var b = 1
    try {
      while (b < batches.size && (System.nanoTime() < end || ingestMs.size < MinBatches)) {
        ingestOne(b, record = true); b += 1
        if (!concurrent) (0 until ReadsPerBatch).foreach(_ => readRound())
      }
    } finally { writing = false; reader.foreach(_.join()) }
    val window = secs(t0)
    c.phase("window")
    readChecks.foreach(_())
    c.phase("checks")
    Outcome(setupS, "ingest_batch", median(c.cpuMs("reader.search_code")),
      built ++ Vector(("ingest_p50_s", median(ingestMs.toSeq) / 1000, "s"),
        ("reader_ops_per_s", readsDone / window, "ops/s"),
        (if (concurrent) "read_during_ingest_p50_ms" else "read_after_ingest_p50_ms", median(readMs.toSeq), "ms"),
        ("write_amp", bytesWritten.toDouble / bytesIngested, "bytes/byte"),
        ("batches", ingestMs.size.toDouble, "count"),
        ("reader_ops", readsDone.toDouble, "count"),
        ("reader_failed_ops", readerFailed.get().toDouble, "count")),
      Map("reader.failed_reads" -> readerFailed.get().toDouble,
        "write_amp" -> bytesWritten.toDouble / bytesIngested))
  }

  // ----------------------------------------------------------------- curate

  /** `Graft.prepareTrainingSet`; traced, as near-dup pairs → curation →
    * split → pack, each in a span. Rows: (doc_id, split, ntok, offset). */
  def prepare(c: Ctx, docs: DataFrame): Vector[Row] = {
    def shape(df: DataFrame) = df.select("doc_id", "split", "ntok", "offset", "n_seqs").collect().toVector
    if (!c.tr.enabled) return shape(Graft.prepareTrainingSet(docs))
    val tr = c.tr
    tr.span("graft.prepareTrainingSet") {
      val (pairs0, handles) = Dedup.nearDupPairsWith(docs.select(col("doc_id"), col("text")), 0.8)
      val pairs = pairs0.cache()
      val nPairs = tr.span("operators.near_dup") { pairs.count() }
      val cand = tr.span("operators.near_dup_candidates") {
        val a = Dedup.minhashArtifactsWith(docs.select(col("doc_id"), col("text")), 0.8)
        val n = a.bands.as("x").join(a.bands.as("y"),
            col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") && col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id"), col("y.doc_id")).distinct().count()
        a.handles.foreach(_.unpersist())
        n
      }
      c.layerAdd("near_dup_pairs", nPairs.toDouble); c.layerAdd("near_dup_candidates", cand.toDouble)
      val (kept0, stageCaches) = Curation.keptWith(docs, 0.45, 0.8, Some(pairs))
      try {
        val kept = tr.span("operators.curation") { val k = kept0.localCheckpoint(); k.count(); k }
        val keptIds = kept.select("doc_id")
        val keptPairs = pairs
          .join(keptIds.withColumnRenamed("doc_id", "d1").hint("merge"), Seq("d1"), "left_semi")
          .join(keptIds.withColumnRenamed("doc_id", "d2").hint("merge"), Seq("d2"), "left_semi")
        val assign = tr.span("operators.split") { val a = Dedup.splitAssignment(kept, keptPairs, 10).localCheckpoint(); a.count(); a }
        val packed = tr.span("operators.pack") {
          val p = CorpusOps.packSequences(kept.join(assign.filter(col("split") === "train").select("doc_id"), "doc_id"), 512)
            .localCheckpoint()
          p.count(); p
        }
        shape(assign.join(kept.select("doc_id", "lang"), "doc_id")
          .join(packed.select("doc_id", "offset", "first_seq", "n_seqs"), Seq("doc_id"), "left")
          .select(col("doc_id"), col("lang"), col("split"), col("ntok"), col("offset"), col("first_seq"), col("n_seqs"))
          .orderBy("doc_id"))
      } finally {
        stageCaches.foreach(_.unpersist()); handles.foreach(_.unpersist()); pairs.unpersist()
      }
    }
  }

  def curate(c: Ctx): Outcome = {
    val spark = c.spark
    import spark.implicits._
    val t0 = System.nanoTime()
    val corpus = Gen.corpus(c.seed, CurateDocs)
    val docsDf = corpus.docs.map(d => (d.docId, d.text, d.lang, d.source, d.text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars").cache()
    docsDf.count()
    val ntok = corpus.docs.map(d => d.docId -> Gen.tokens(d.text).length.toLong).toMap
    val clusterOf = corpus.clusters.flatMap(cl => cl.map(_ -> cl.head)).toMap
    val opMs = mutable.ArrayBuffer.empty[Double]
    def prepareOne(record: Boolean): Unit =
      c.timed(if (record) "prepare" else "setup.prepare")(prepare(c, docsDf)).foreach { case (got, ms) =>
        if (record) opMs += ms
        val kept = got.map(_.getLong(0))
        val train = got.filter(_.getString(1) == "train").sortBy(_.getLong(0))
        val offsetsOk = train.map(_.getLong(3)) == train.scanLeft(0L)(_ + _.getLong(2)).init
        val splitOk = got.forall { r =>
          val sp = r.getString(1)
          (sp == "train" && !r.isNullAt(3) && r.getLong(4) >= 1) || (sp == "val" && r.isNullAt(3))
        }
        val straddle = got.groupBy(r => clusterOf.getOrElse(r.getLong(0), -1L - r.getLong(0)))
          .exists(_._2.map(_.getString(1)).distinct.size > 1)
        c.check(kept.toSet == corpus.expectedKept && kept.distinct.size == kept.size,
          s"curate kept ${kept.size}, expected ${corpus.expectedKept.size}: " +
            s"extra ${(kept.toSet -- corpus.expectedKept).take(5)} missing ${(corpus.expectedKept -- kept).take(5)}")
        c.check(got.forall(r => r.getLong(2) == ntok(r.getLong(0))), "curate token counts")
        c.check(splitOk && offsetsOk && !straddle, s"curate split/pack: split $splitOk offsets $offsetsOk straddle $straddle")
      }
    // warm-up, part of set-up: one checked call
    prepareOne(record = false)
    val setupS = secs(t0)
    c.phase("warm_up")
    val end = c.deadlineNs
    while (System.nanoTime() < end || opMs.isEmpty) prepareOne(record = true)
    val p50 = median(opMs.toSeq)
    // the traced run's layer figures for the curate operators
    val spanS = c.tr.all.groupBy(_.name).view.mapValues(ss => median(ss.map(_.ms)) / 1000).toMap
    val layers = if (!c.tr.enabled) Vector.empty else {
      val cand = c.layerAcc.getOrElse("near_dup_candidates", 0.0)
      Vector(("near_dup_s", spanS("operators.near_dup"), "s"),
        ("near_dup_candidates", cand / opMs.size.max(1), "count"),
        ("near_dup_yield", if (cand > 0) c.layerAcc.getOrElse("near_dup_pairs", 0.0) / cand else 0.0, "ratio"),
        ("curation_s", spanS("operators.curation"), "s"),
        ("split_s", spanS("operators.split"), "s"),
        ("pack_s", spanS("operators.pack"), "s"))
    }
    Outcome(setupS, "prepare", Double.NaN,
      Vector(("curate_docs_per_s", corpus.docs.size / (p50 / 1000), "docs/s"),
        ("prepare_p50_s", p50 / 1000, "s"),
        ("prepares", opMs.size.toDouble, "count")) ++ layers,
      Map.empty)
  }
}
