package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.util.Random

/** One expected index element: what the chunker must emit for a generated
  * file, with the content the element id is derived from. */
final case class Elem(path: String, name: String, etype: String, start: Int, end: Int,
                      content: String, doc: String = "") {
  /** The index's content-addressed id: `path:start:md5(name:type:content)`. */
  lazy val id: String = s"$path:$start:${Gen.md5hex(s"$name:$etype:$content")}"
  /** The searchable document the index embeds for this element. */
  def document: String = if (doc.isEmpty) s"$name $etype\n$content" else s"$name $etype\n$content\n$doc"
}

/** A planted diagnostic: (line number, message) as the diagnostics report
  * renders it; line 0 is a file-level finding. */
final case class Diag(line: Int, severity: String, message: String)

/** A generated source file plus its answer manifest. */
final case class GenFile(fid: Int, version: Int, path: String, content: String, elems: Vector[Elem],
                         diags: Vector[Diag], defs: Vector[String]) {
  def bytes: Long = content.getBytes(UTF_8).length.toLong
}

/** A generated training-corpus document (the `documents` schema). */
final case class Doc(docId: Long, text: String, lang: String, source: String)

/** The curate corpus plus its planted structure. */
final case class Corpus(docs: Vector[Doc], clusters: Vector[Vector[Long]], lowQuality: Set[Long]) {
  /** Docs the pipeline must keep: everything except the low-quality tail
    * and the non-lowest members of each planted duplicate cluster. */
  lazy val expectedKept: Set[Long] =
    docs.map(_.docId).toSet -- lowQuality -- clusters.flatMap(_.tail)
}

/** Deterministic generators: every byte derives from the workload seed. */
object Gen {
  def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  /** The program's tokenization (lower-case, split on non-alphanumerics). */
  def tokens(s: String): Array[String] =
    s.toLowerCase(java.util.Locale.ROOT).replaceAll("[^a-z0-9]+", " ").split(" ").filter(_.nonEmpty)

  private def rng(parts: Long*): Random =
    new Random(parts.foldLeft(0x9E3779B97F4A7C15L)((h, p) => (h ^ p) * 0x100000001B3L + 0x7F4A7C15L))

  val Verbs: Vector[String] = Vector("load", "parse", "build", "merge", "fetch", "store", "index",
    "scan", "split", "join", "emit", "read", "write", "embed", "rank", "score", "filter", "sort",
    "group", "count", "check", "apply", "reduce", "resolve", "render", "encode", "decode", "update",
    "insert", "delete", "lookup", "compact", "refresh", "probe", "sample", "train", "plan", "route")
  val Nouns: Vector[String] = Vector("config", "vector", "cache", "token", "batch", "query", "table",
    "schema", "record", "shard", "bucket", "cursor", "segment", "ledger", "stream", "window",
    "buffer", "channel", "session", "matrix", "tensor", "graph", "node", "edge", "label", "model",
    "layout", "cluster", "centroid", "partition", "manifest", "report", "signal", "metric",
    "profile", "snapshot", "checkpoint", "pointer", "header", "payload", "message", "request",
    "response", "handler", "worker", "queue", "scheduler", "planner", "catalog", "registry")
  val Words: Vector[String] = (Verbs ++ Nouns ++ Vector("fast", "slow", "local", "remote", "dense",
    "sparse", "stable", "partial", "global", "eager", "lazy", "exact", "approximate", "sorted",
    "hashed", "cached", "stale", "fresh", "nested", "flat", "small", "large", "primary", "secondary",
    "incremental", "parallel", "serial", "atomic", "durable", "volatile", "ordered", "random",
    "weighted", "bounded", "unique", "shared", "private", "public", "typed", "raw")).distinct
  private val Stop = Vector("the", "a", "of", "to", "and", "is", "in", "it")

  private def cap(s: String): String = s"${s.head.toUpper}${s.tail}"
  private def pick[T](r: Random, v: Vector[T]): T = v(r.nextInt(v.size))
  private def words(r: Random, n: Int): String = Vector.fill(n)(pick(r, Words)).mkString(" ")

  /** Function name k of file `fid`: a single token under the program's
    * tokenizer, so symbol navigation can look it up. */
  def funcName(fid: Int, k: Int): String = {
    val r = rng(fid.toLong, k.toLong, 7L)
    s"${pick(r, Verbs)}${cap(pick(r, Nouns))}${fid}x$k"
  }

  // --------------------------------------------------------------- code tree

  /** Renders one file. `version` > 0 rewrites the bodies of some items and
    * appends one new function, so an edited re-submission has both
    * unchanged and changed elements. `diag` plants diagnostic triggers. */
  def codeFile(seed: Long, fid: Int, version: Int, diag: Boolean, path0: Option[String] = None): GenFile = {
    val r = rng(seed, fid.toLong, 1L)
    val ext = { val x = r.nextInt(20); if (x < 14) "py" else if (x < 18) "ts" else "md" }
    val path = path0.getOrElse(f"pkg${fid % 17}%02d/mod${fid % 5}/${pick(r, Nouns)}_$fid.$ext")
    ext match {
      case "py" => pyFile(seed, fid, version, diag, path, r)
      case "ts" => tsFile(seed, fid, version, diag, path, r)
      case _ => mdFile(seed, fid, version, diag, path, r)
    }
  }

  /** Per-item body generator: stable for version 0, rewritten for items the
    * edit touched. */
  private def bodyRng(seed: Long, fid: Int, item: Int, version: Int): Random = {
    val touched = version > 0 && rng(seed, fid.toLong, item.toLong, 3L).nextInt(3) == 0
    rng(seed, fid.toLong, item.toLong, if (touched) version.toLong + 100 else 0L)
  }

  private def ref(r: Random, fid: Int): String =
    if (fid > 0 && r.nextInt(3) == 0) funcName(r.nextInt(fid), r.nextInt(3)) else pick(r, Verbs)

  private final class Lines {
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    def +=(l: String): Int = { buf += l; buf.size } // 1-based line number
    def n: Int = buf.size
    def slice(start: Int, end: Int): String = buf.slice(start - 1, end).mkString("\n")
  }

  private def pyFile(seed: Long, fid: Int, version: Int, diag: Boolean, path: String, r: Random): GenFile = {
    val L = new Lines
    val elems = Vector.newBuilder[Elem]
    val diags = Vector.newBuilder[Diag]
    val defs = Vector.newBuilder[String]
    L += s"\"\"\"Module ${words(r, 6)}.\"\"\""
    val imp = L += s"from pkg${fid % 17}.base$fid import helper${fid}a, helper${fid}b"
    elems += Elem(path, "import", "import", imp, imp, L.slice(imp, imp))
    L += ""
    val nItems = 3 + r.nextInt(5) + (if (version > 0) 1 else 0)
    var planted = false
    def body(br: Random, ind: String, v: String): Unit = {
      val n = 2 + br.nextInt(4)
      for (i <- 0 until n) L += s"$ind$v$i = ${ref(br, fid)}(${pick(br, Nouns)}) + ${br.nextInt(97)}"
      if (diag && !planted) {
        planted = true
        val p = L += s"${ind}print(${v}0)"
        diags += Diag(p, "warning", "print() statement found (consider logging)")
        val long = s"$ind${v}9 = " + Vector.fill(14)(s"${pick(br, Verbs)}${cap(pick(br, Nouns))}").mkString(" + ")
        val q = L += long
        diags += Diag(q, "warning", s"Line too long (${long.length} chars)")
      }
      L += s"${ind}return ${v}0"
    }
    for (k <- 0 until nItems) {
      val br = bodyRng(seed, fid, k, version)
      val name = funcName(fid, k)
      defs += name
      if (k >= 3 && br.nextInt(2) == 0) {
        val cname = s"${cap(pick(br, Nouns))}${cap(pick(br, Nouns))}${fid}x$k"
        val cs = L += s"class $cname:"
        val cdoc = s"${cap(words(br, 5))}."
        L += s"    \"\"\"$cdoc\"\"\""
        L += ""
        var last = cs
        for (m <- 0 until 1 + br.nextInt(3)) {
          val mname = s"${name}m$m"
          val ms = L += s"    def $mname(self, x):"
          val mdoc = s"${cap(words(br, 4))}."
          L += s"        \"\"\"$mdoc\"\"\""
          body(br, "        ", "r")
          last = L.n
          elems += Elem(path, mname, "function", ms, last, L.slice(ms, last), mdoc)
          L += ""
        }
        elems += Elem(path, cname, "class", cs, last, L.slice(cs, last), cdoc)
      } else {
        val fs = L += s"def $name(a, b):"
        val fdoc = s"${cap(words(br, 5))}."
        L += s"    \"\"\"$fdoc\"\"\""
        body(br, "    ", "v")
        elems += Elem(path, name, "function", fs, L.n, L.slice(fs, L.n), fdoc)
        L += ""
      }
    }
    if (diag) {
      L += "# unbalanced ("
      diags += Diag(0, "error", "Syntax error: unbalanced delimiters (paren=1, bracket=0, brace=0)")
    }
    GenFile(fid, version, path, L.buf.mkString("\n") + "\n", elems.result(), diags.result(), defs.result())
  }

  private def tsFile(seed: Long, fid: Int, version: Int, diag: Boolean, path: String, r: Random): GenFile = {
    val L = new Lines
    val elems = Vector.newBuilder[Elem]
    val diags = Vector.newBuilder[Diag]
    val defs = Vector.newBuilder[String]
    val imp = L += s"import { helper${fid}a } from \"./base$fid\";"
    elems += Elem(path, "import", "import", imp, imp, L.slice(imp, imp))
    L += ""
    val nItems = 3 + r.nextInt(4) + (if (version > 0) 1 else 0)
    var planted = false
    def body(br: Random, ind: String, v: String): Unit = {
      for (i <- 0 until 2 + br.nextInt(3))
        L += s"${ind}const $v$i = ${ref(br, fid)}(${pick(br, Nouns)}) * ${br.nextInt(97)};"
      if (diag && !planted) {
        planted = true
        val p = L += s"${ind}console.log(${v}0);"
        diags += Diag(p, "warning", "console.log() found")
        val q = L += s"${ind}const p0 = 1; const q0 = 2;"
        diags += Diag(q, "warning", "Multiple statements on one line")
      }
      L += s"${ind}return ${v}0;"
    }
    for (k <- 0 until nItems) {
      val br = bodyRng(seed, fid, k, version)
      val name = funcName(fid, k)
      defs += name
      if (k >= 3 && br.nextInt(2) == 0) {
        val cname = s"${cap(pick(br, Nouns))}${cap(pick(br, Nouns))}${fid}x$k"
        val cs = L += s"export class $cname {"
        for (m <- 0 until 1 + br.nextInt(2)) {
          val mname = s"${name}m$m"
          val ms = L += s"  $mname(x: number): number {"
          body(br, "    ", "r")
          val me = L += "  }"
          elems += Elem(path, mname, "function", ms, me, L.slice(ms, me))
        }
        val ce = L += "}"
        elems += Elem(path, cname, "class", cs, ce, L.slice(cs, ce))
      } else {
        val fs = L += s"export function $name(a: number, b: number): number {"
        body(br, "  ", "v")
        val fe = L += "}"
        elems += Elem(path, name, "function", fs, fe, L.slice(fs, fe))
      }
      L += ""
    }
    if (diag) {
      L += "// unbalanced ("
      diags += Diag(0, "error", "Syntax error: unbalanced delimiters (paren=1, bracket=0, brace=0)")
    }
    GenFile(fid, version, path, L.buf.mkString("\n") + "\n", elems.result(), diags.result(), defs.result())
  }

  private def mdFile(seed: Long, fid: Int, version: Int, diag: Boolean, path: String, r: Random): GenFile = {
    val L = new Lines
    val diags = Vector.newBuilder[Diag]
    val heads = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]
    val nSec = 2 + r.nextInt(3) + (if (version > 0) 1 else 0)
    for (k <- 0 until nSec) {
      val br = bodyRng(seed, fid, k, version)
      if (k > 0) L += ""
      val title = s"${cap(pick(br, Verbs))} ${pick(br, Nouns)} ${fid}x$k"
      heads += ((L += s"${if (k == 0) "#" else "##"} $title") -> title)
      for (j <- 0 until 2 + br.nextInt(4)) {
        val line = s"${cap(words(br, 8))} ref${fid}x${k}y$j."
        if (diag && k == 0 && j == 0) {
          val p = L += line + "  "
          diags += Diag(p, "warning", "Trailing whitespace")
        } else L += line
      }
    }
    // the chunker splits the file (which ends in '\n') into n + 1 lines; a
    // section runs from its heading to the line before the next heading
    val all = L.buf :+ ""
    val elems = heads.indices.map { h =>
      val (start, title) = heads(h)
      val endExcl = if (h + 1 < heads.size) heads(h + 1)._1 - 1 else all.size
      Elem(path, title, "markdown_section", start, endExcl, all.slice(start, endExcl).mkString("\n"))
    }.toVector
    GenFile(fid, version, path, L.buf.mkString("\n") + "\n", elems, diags.result(), Vector.empty)
  }

  /** The seeded tree: files 0 until n; every 10th file carries planted
    * diagnostics. */
  def tree(seed: Long, n: Int): Vector[GenFile] =
    (0 until n).map(fid => codeFile(seed, fid, 0, diag = fid % 10 == 0)).toVector

  def writeTree(root: Path, files: Seq[GenFile]): Unit = files.foreach { f =>
    val p = root.resolve(f.path)
    Files.createDirectories(p.getParent)
    Files.write(p, f.content.getBytes(UTF_8))
  }

  // ----------------------------------------------------------------- ingest

  /** One ingest batch and the disposition each of its elements must get. */
  final case class Batch(files: Vector[GenFile], expected: Map[String, String]) {
    def bytes: Long = files.map(_.bytes).sum
  }

  /** Seeded ingest batches against an indexed tree. Each batch holds new
    * files, edited re-submissions of indexed files, and near-copies of
    * indexed files under a new path (a header line shifts every element,
    * each element's text is unchanged, so each is a near-duplicate of an
    * element of another file and the gate must reject it). */
  def batches(seed: Long, base: Vector[GenFile], n: Int, nNew: Int, nEdit: Int, nCopy: Int): Vector[Batch] = {
    val r = rng(seed, 23L)
    val current = scala.collection.mutable.LinkedHashMap(base.map(f => f.path -> f): _*)
    val nextFid0 = 1000000
    var nextFid = nextFid0
    (0 until n).map { b =>
      val fresh = Vector.fill(nNew) { nextFid += 1; codeFile(seed, nextFid, 0, diag = false) }
      val editable = current.values.filter(_.fid < nextFid0).toVector
      val edits = r.shuffle(editable).take(nEdit).map { f =>
        codeFile(seed, f.fid, f.version + 1, f.fid % 10 == 0, Some(f.path))
      }
      val touched = edits.map(_.path).toSet
      val sources = r.shuffle(current.keys.filterNot(touched).toVector).take(nCopy)
      val copies = sources.zipWithIndex.map { case (p, j) => copyOf(current(p), s"copies/b$b/c$j/${p.split('/').last}") }
      val expected = (fresh ++ edits).flatMap(_.elems.map(_.id -> "ingested")).toMap ++
        copies.flatMap(_.elems.map(_.id -> "near_dup"))
      (fresh ++ edits).foreach(f => current(f.path) = f)
      Batch(fresh ++ edits ++ copies, expected)
    }.toVector
  }

  private def copyOf(f: GenFile, path: String): GenFile = {
    val header = if (f.path.endsWith(".py")) "# vendored copy" else if (f.path.endsWith(".ts")) "// vendored copy" else ""
    GenFile(f.fid, f.version, path, header + "\n" + f.content,
      f.elems.map(e => e.copy(path = path, start = e.start + 1, end = e.end + 1)),
      Vector.empty, f.defs)
  }

  // ----------------------------------------------------------------- curate

  /** A documents corpus: good singletons (type-token ratio ≥ 0.6, so they
    * clear the quality gate whatever their stopword share), a ~6%
    * low-quality tail (three repeated tokens, far under the gate), and
    * planted duplicate clusters — a base doc plus an exact copy and
    * re-formatted copies whose tokens equal the base's (same shingles,
    * different bytes), each at a higher doc id than its base. */
  def corpus(seed: Long, n: Int): Corpus = {
    val r = rng(seed, 31L)
    val langs = Vector("en", "de", "es")
    val sources = Vector("web", "code", "books")
    def goodText(): String = {
      var t = ""
      var ok = false
      while (!ok) {
        val nTok = 60 + r.nextInt(90)
        val toks = Vector.fill(nTok)(if (r.nextInt(5) == 0) pick(r, Stop) else s"${pick(r, Words)}${if (r.nextInt(3) == 0) r.nextInt(50).toString else ""}")
        ok = toks.distinct.size.toDouble / toks.size >= 0.6
        t = toks.grouped(12).map(s => cap(s.mkString(" ")) + ".").mkString(" ")
      }
      t
    }
    def reformat(t: String, v: Int): String =
      if (v % 2 == 0) t.toUpperCase(java.util.Locale.ROOT).replace(". ", ";\n")
      else t.replace(" ", "  ").replace(".", " !")
    val nClusters = n / 25
    val nLow = n * 6 / 100
    // templates: (text, cluster index or -1, role 0 = base), then ids by shuffle
    val tpl = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Int)]
    for (c <- 0 until nClusters) {
      val base = goodText()
      tpl += ((base, c, 0)); tpl += ((base, c, 1))
      for (v <- 0 until 1 + r.nextInt(2)) tpl += ((reformat(base, v), c, 2 + v))
    }
    for (_ <- 0 until nLow) {
      val spam = Vector.fill(3)(s"zq${r.nextInt(100000)}x")
      tpl += ((Vector.fill(40 + r.nextInt(30))(pick(r, spam)).mkString(" "), -2, 0))
    }
    while (tpl.size < n) tpl += ((goodText(), -1, 0))
    val order = r.shuffle(tpl.indices.toVector)
    val idOf = Array.fill(tpl.size)(0L)
    order.zipWithIndex.foreach { case (t, id) => idOf(t) = id.toLong }
    // the base takes the lowest id of its cluster
    val byCluster = tpl.indices.filter(tpl(_)._2 >= 0).groupBy(tpl(_)._2)
    val clusters = byCluster.toVector.sortBy(_._1).map { case (_, members) =>
      val ids = members.map(idOf).sorted
      val baseFirst = members.sortBy(tpl(_)._3)
      baseFirst.zip(ids).foreach { case (t, id) => idOf(t) = id }
      ids.toVector
    }
    val docs = tpl.indices.map { t =>
      Doc(idOf(t), tpl(t)._1, pick(r, langs), pick(r, sources))
    }.sortBy(_.docId).toVector
    Corpus(docs, clusters, tpl.indices.filter(tpl(_)._2 == -2).map(idOf).toSet)
  }

  // ----------------------------------------------------------------- queries

  /** A finite pool of query phrases from the corpus vocabulary, drawn
    * Zipf-skewed (exponent 1.1), so popular queries repeat. */
  final class QueryPool(seed: Long, size: Int) {
    private val r = rng(seed, 41L)
    val phrases: Vector[String] = Vector.fill(size)(words(r, 2 + r.nextInt(3)))
    private val cdf = {
      val w = (1 to size).map(i => 1.0 / math.pow(i, 1.1))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    def draw(r: Random): String = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      phrases(math.min(size - 1, if (i >= 0) i else -i - 1))
    }
  }

  def random(parts: Long*): Random = rng(parts: _*)
}
