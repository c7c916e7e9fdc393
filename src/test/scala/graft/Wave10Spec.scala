package graft

import org.apache.spark.sql.functions._
import graft.ops._
import graft.tools.FitBpe

/** Round-7 wave: BPE subword tokenization — the distributed replace-chain
  * encoder must agree byte-for-byte with the driver-side fit loop it was
  * trained by, and the token accounting must hold the obvious bounds. */
class Wave10Spec extends SparkTestBase {

  test("BPE engine encoder agrees with the fit-side reference encoder") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").orderBy("doc_id").limit(50)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val engine = spark.read.parquet(s"$sf/documents.parquet")
      .where(col("doc_id") < 50)
      .select(col("doc_id"), BpeOps.encodeExpr(col("text")).as("enc"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    docs.foreach { case (id, text) =>
      val ref = BpeOps.merges.foldLeft(FitBpe.toStream(text)) {
        case (acc, (a, b)) => FitBpe.applyMerge(acc, a, b)
      }
      assert(engine(id) == ref,
        s"doc $id: engine encoding diverges from the fit-side encoder")
    }
  }

  test("text_bpe_tokencount holds compression bounds") {
    val rows = BpeOps.textBpeTokencount(spark, sf).collect()
    assert(rows.nonEmpty)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), length(col("text")).as("n_chars"),
              size(split(col("text"), " ")).as("n_words"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    rows.foreach { r =>
      val (id, nBpe) = (r.getLong(0), r.getLong(1))
      val (nChars, nWords) = docs(id)
      // Merges only ever shrink the stream, and no merge in the learned
      // table glues two '▁' into one symbol — each of the words-1
      // separators therefore sits in its own token: tokens ∈ [words-1, chars].
      assert(nBpe <= nChars, s"doc $id: more tokens than characters")
      assert(nBpe >= nWords - 1, s"doc $id: a symbol crossed two word " +
        "separators — impossible under the learned merge table")
      assert(r.getDouble(2) > 1.0, s"doc $id: no compression")
    }
    // Corpus-level: the learned table should roughly halve the stream.
    val ratio = rows.map(r => docs(r.getLong(0))._1.toLong).sum.toDouble /
      rows.map(_.getLong(1)).sum
    assert(ratio > 1.8 && ratio < 3.0, s"corpus compression $ratio")
  }

  private def fold(id: Long): Long = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8"))
    java.lang.Long.parseLong(h.take(4).map("%02x".format(_)).mkString, 16) % 100
  }

  test("sim_incremental_ann: store is durable, folds honored, cosines exact") {
    val out = SimOps.simIncrementalAnn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.nonEmpty)
    // Fold discipline: queries are the new batch, neighbors the corpus.
    out.foreach { case (q, n, _) =>
      assert(fold(q) >= 90, s"query $q is not in the new-batch fold")
      assert(fold(n) < 90, s"neighbor $n is not in the indexed corpus")
    }
    // Reported cosines are EXACT (rerank uses the true vectors): recompute
    // directly from the source embeddings.
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .collect().map { r =>
        val v = r.getSeq[Float](r.fieldIndex("embedding"))
          .map(_.toDouble).toArray
        r.getLong(r.fieldIndex("vec_id")) -> v
      }.toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    out.foreach { case (q, n, c) =>
      val exact = BigDecimal(cos(vecs(q), vecs(n)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(exact - c) <= 1e-9, s"pair ($q,$n): $c vs exact $exact")
    }
    // Recall smoke vs brute force: the store's multi-probe LSH should find
    // the true best old-corpus neighbor for most new vectors.
    val newIds = vecs.keys.filter(fold(_) >= 90).toSeq
    val oldIds = vecs.keys.filter(fold(_) < 90).toSeq
    val best = newIds.map { q =>
      q -> oldIds.maxBy(o => cos(vecs(q), vecs(o)))
    }.toMap
    val got = out.map { case (q, n, _) => q -> n }.toMap
    assert(got.keySet.size >= (newIds.size * 8) / 10,
      "fewer than 80% of new vectors surfaced a neighbor")
    val hit = got.count { case (q, n) => best(q) == n }
    assert(hit.toDouble / got.size >= 0.6,
      s"top-1 agreement with brute force only $hit/${got.size}")
    // Durability: a second entry from a new session must reuse the
    // persisted store, not rewrite it.
    val (vecPath, sigPath) = SimOps.ensureEmbSignatureStore(spark, sf)
    def mtime(p: String): Long = {
      val hp = new org.apache.hadoop.fs.Path(p, "_SUCCESS")
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getFileStatus(hp).getModificationTime
    }
    val (tv, ts) = (mtime(vecPath), mtime(sigPath))
    val again = SimOps.simIncrementalAnn(spark.newSession(), sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(again.toSeq == out.toSeq, "re-entry changed the results")
    assert(mtime(vecPath) == tv && mtime(sigPath) == ts,
      "re-entry rewrote the persisted store")
  }
}
