package perfbench

/** Independent reference answers, computed in plain Scala from the
  * generator's manifest — never through the program under test. */
object Check {
  val Dim = 384

  /** The hashing embedder's contract: each token lands in bucket
    * (first three hex digits of md5(token)) mod 384; the vector is the
    * bucket-count histogram. */
  def embed(text: String): Array[Double] = {
    val v = new Array[Double](Dim)
    Gen.tokens(text).foreach { t =>
      val h = Gen.md5hex(t)
      v((Integer.parseInt(h.substring(0, 3), 16)) % Dim) += 1.0
    }
    v
  }

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** A searchable item: key, filter attributes, embedding and norm. */
  final case class Item(key: String, etype: String, ftype: String, emb: Array[Double]) {
    val nrm: Double = math.sqrt(dot(emb, emb))
  }

  def item(e: Elem): Item = Item(e.id, e.etype, fileType(e.path), embed(e.document))

  def fileType(path: String): String = {
    val m = "(\\.[^.]+)$".r.findFirstIn(path)
    m.getOrElse("")
  }

  def cosine(it: Item, q: Array[Double], qn: Double): Double = dot(it.emb, q) / (it.nrm * qn)

  /** Whether `got` (key, rounded similarity) is a correct top-k answer over
    * `universe`: right size, every similarity right to 1e-6, sorted, and no
    * item strictly better than the worst returned one left out. Ties at
    * the cut may be broken either way. */
  def validTopK(got: Seq[(String, Double)], universe: Seq[Item], query: String, k: Int): Boolean = {
    val q = embed(query); val qn = math.sqrt(dot(q, q))
    val sims = universe.iterator.map(i => i.key -> cosine(i, q, qn)).toMap
    got.size == math.min(k, universe.size) &&
      got.map(_._1).distinct.size == got.size &&
      got.forall { case (key, s) => sims.get(key).exists(t => math.abs(t - s) <= 1e-6) } &&
      got.map(_._2).sliding(2).forall(w => w.size < 2 || w(0) >= w(1)) &&
      (got.isEmpty || {
        val worst = got.map(g => sims(g._1)).min
        val ids = got.map(_._1).toSet
        sims.forall { case (key, s) => s <= worst + 1e-9 || ids(key) }
      })
  }

  /** Approximate (IVF) answer check: every returned similarity is right and
    * the list is sorted. Returns (valid, recall against the exact top-k). */
  def approxTopK(got: Seq[(String, Double)], universe: Seq[Item], query: String, k: Int): (Boolean, Double) = {
    val q = embed(query); val qn = math.sqrt(dot(q, q))
    val sims = universe.iterator.map(i => i.key -> cosine(i, q, qn)).toMap
    val ok = got.size <= k && got.map(_._1).distinct.size == got.size &&
      got.forall { case (key, s) => sims.get(key).exists(t => math.abs(t - s) <= 1e-6) } &&
      got.map(_._2).sliding(2).forall(w => w.size < 2 || w(0) >= w(1))
    val kth = sims.values.toVector.sorted(Ordering[Double].reverse).take(k).lastOption.getOrElse(0.0)
    val hits = got.count(g => sims.get(g._1).exists(_ >= kth - 1e-9))
    (ok, hits.toDouble / math.min(k, sims.size).max(1))
  }

  /** Reference definition sites and reference counts: first occurrence in
    * (doc, position) order, occurrences − 1, distinct docs. */
  def defsAndRefs(docs: Seq[(Long, String)], symbols: Seq[String]): Map[String, (Long, Long, Long, Long)] = {
    val want = symbols.toSet
    val occ = docs.sortBy(_._1).flatMap { case (d, t) =>
      Gen.tokens(t).zipWithIndex.collect { case (tok, p) if want(tok) => (tok, d, p.toLong) }
    }
    occ.groupBy(_._1).map { case (tok, os) =>
      tok -> ((os.head._2, os.head._3, os.size.toLong - 1, os.map(_._2).distinct.size.toLong))
    }
  }
}
