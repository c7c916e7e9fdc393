package graft.tools

/** Offline BPE fit — produces the merge-ranks literal embedded in
  * [[graft.ops.BpeOps]].
  *
  * Representation (shared EXACTLY with the encoder and the DuckDB
  * oracle): a document becomes a symbol stream where every symbol is
  * prefixed by '·' (U+00B7, absent from the ASCII corpus) and spaces are
  * the '▁' symbol. "ab cd" → "·a·b·▁·c·d". A merge of the adjacent pair
  * (a, b) is the literal string replacement "·a·b" → "·ab": the marker
  * makes the match exact (a symbol's content can never match another
  * symbol's tail, because content never contains '·'), left-to-right
  * non-overlapping replacement IS the standard greedy application order,
  * and the token count is simply the number of '·' characters left.
  * That single design choice is what lets the distributed encoder be a
  * chain of codegen'd literal `replace` calls — no UDF, no regex in the
  * hot path — and lets DuckDB replay it verbatim as the oracle.
  *
  * The fit itself is the classic corpus loop: count adjacent symbol
  * pairs, take the most frequent (ties broken lexicographically for
  * determinism), apply, repeat. It runs driver-side over the collected
  * doc streams — the model is ~50 rows and fitting is a one-time offline
  * step, exactly like the sentiment lexicon and the perplexity vocab;
  * the LEARNED TABLE ships as a literal, the fit never runs in a query.
  */
object FitBpe {
  val Marker = '·'
  val SpaceSym = '▁'

  def toStream(text: String): String = {
    val sb = new StringBuilder(text.length * 2)
    text.foreach { c =>
      sb.append(Marker).append(if (c == ' ') SpaceSym else c)
    }
    sb.toString
  }

  /** Adjacent symbol pairs of one stream, as (a, b) content strings. */
  def pairsOf(stream: String): Iterator[(String, String)] = {
    val syms = stream.split(Marker).iterator.filter(_.nonEmpty).toArray
    (0 until syms.length - 1).iterator.map(i => (syms(i), syms(i + 1)))
  }

  def applyMerge(stream: String, a: String, b: String): String =
    stream.replace(s"$Marker$a$Marker$b", s"$Marker$a$b")

  def fit(docs: Seq[String], nMerges: Int): Seq[(String, String)] = {
    var streams = docs.map(toStream)
    val out = Seq.newBuilder[(String, String)]
    for (_ <- 0 until nMerges) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      streams.foreach(pairsOf(_).foreach(p =>
        counts.update(p, counts.getOrElse(p, 0L) + 1)))
      if (counts.nonEmpty) {
        val (a, b) = counts.toSeq.minBy { case ((x, y), c) => (-c, x, y) }._1
        out += ((a, b))
        streams = streams.map(applyMerge(_, a, b))
      }
    }
    out.result()
  }

  def main(args: Array[String]): Unit = {
    val d = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val n = if (args.length > 1) args(1).toInt else 48
    val spark = DevSession(cpus = 4, shufflePartitions = 4)
    // Driver-side collect is the POINT here, but it must stay bounded:
    // this offline fitting tool needs only a representative sample to
    // learn ~48 merge rules, so cap the corpus pulled to the driver at
    // 50k docs. The sample is DETERMINISTIC (round-10 advice): the 50k
    // smallest doc_ids via orderBy+limit (TakeOrderedAndProject — a
    // distributed top-k, never a full collect), not a bare limit()
    // whose rows shift with file layout/partition order — the emitted
    // merge literal must reproduce bit-for-bit for the same corpus.
    // On sf0.01 this is the whole fit corpus, so the committed
    // BpeOps.merges table is unchanged by the sampling rule. Never run
    // this against a full-scale dir without the cap: the fit is
    // O(sample), not O(corpus).
    val docs = spark.read.parquet(s"$d/documents.parquet")
      .select("doc_id", "text").orderBy("doc_id").limit(50000)
      .collect().map(_.getString(1)).toSeq
    val merges = fit(docs, n)
    // Emit the Scala literal for BpeOps.merges — non-ASCII as \u escapes
    // so the generated source is encoding-proof.
    def esc(s: String): String = s.flatMap {
      case c if c < 0x7f => c.toString
      case c             => f"\\u${c.toInt}%04x"
    }
    val lit = new StringBuilder("  val merges: Seq[(String, String)] = Seq(\n")
    merges.grouped(3).foreach { g =>
      lit.append("    " + g.map { case (a, b) => s"""("${esc(a)}", "${esc(b)}")""" }
        .mkString(", ") + ",\n")
    }
    lit.append("  )\n")
    java.nio.file.Files.write(java.nio.file.Paths.get("/tmp/bpe_merges.txt"),
      lit.toString.getBytes("UTF-8"))
    println(lit.toString)
    // Sanity: tokens/chars compression on the fit corpus.
    val streams = docs.map(toStream)
    val encoded = streams.map(s => merges.foldLeft(s) {
      case (acc, (a, b)) => applyMerge(acc, a, b)
    })
    val chars = docs.map(_.length.toLong).sum
    val toks = encoded.map(_.count(_ == Marker).toLong).sum
    println(f"[fit] chars=$chars toks=$toks ratio=${chars.toDouble / toks}%.3f")
    spark.stop()
  }
}
