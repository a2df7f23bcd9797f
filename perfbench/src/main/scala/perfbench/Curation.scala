package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ml.{Corpus, Dedup, TextAnalysis}

/** Timed calls into the curation layers (ml.Dedup, ml.Corpus,
  * ml.TextAnalysis and the shingle kernels) over a document set, for a
  * traced layer pass. One whole `Corpus.curate` pass is timed too and its
  * output compared with an independent driver-side reference of q50's
  * definition: drop eval docs (`doc_id % 37 == residue`), docs under 30
  * tokens, docs sharing a word 3-gram with an eval doc and near-duplicate
  * losers (same-lang Jaccard ≥ 0.5 on distinct 3-grams, each component
  * keeping its smallest doc_id), then keep sample bucket < 500. */
object Curation {
  private val MinTokens = 30
  private val Permille = 500

  /** Layer metrics over `docs` (doc_id, text, lang); throws if the curate
    * pass disagrees with the reference. */
  def layers(ctx: Ctx, docs: DataFrame, residue: Long): Map[String, Double] = {
    val evalPred = col("doc_id") % 37 === residue
    val m = mutable.LinkedHashMap.empty[String, Double]
    var kept: Set[(Long, String, Int)] = Set.empty
    m("corpus.curate_s") = ctx.timed("corpus.curate") {
      kept = Corpus.curate(docs, evalPred, MinTokens, Permille).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    }
    val want = reference(docs, residue)
    if (kept != want)
      throw new IllegalStateException(s"curate kept ${kept.size} docs, reference ${want.size}")
    val shingled = Dedup.shingleFrame(docs).cache()
    m("dedup.shingle_s") = ctx.timed("dedup.shingle")(ctx.force(shingled))
    val pairs = Dedup.ngramJaccardPairsFrom(shingled, 0.5).cache()
    m("dedup.pairs_s") = ctx.timed("dedup.pairs")(m("dedup.pairs") = pairs.count().toDouble)
    m("corpus.cc_s") = ctx.timed("corpus.cc")(ctx.force(Corpus.connectedComponents(pairs)))
    m("corpus.decontam_s") =
      ctx.timed("corpus.decontam")(ctx.force(Corpus.decontaminateFrom(shingled, evalPred)))
    m("text.quality_s") = ctx.timed("text.quality")(ctx.force(TextAnalysis.quality(docs)))
    m("corpus.keep_ratio") = want.size.toDouble / docs.count()
    pairs.unpersist(); shingled.unpersist()
    m.toMap
  }

  /** q50's kept set (doc_id, lang, n_tokens), computed on the driver. */
  def reference(docs: DataFrame, residue: Long): Set[(Long, String, Int)] = {
    val rows = docs.select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2).split(' ')))
    val sh = rows.map { case (_, _, t) =>
      (0 until t.length - 2).map(i => s"${t(i)} ${t(i + 1)} ${t(i + 2)}").toSet
    }
    val isEval = rows.map(r => r._1 % 37 == residue)
    val evalSh = rows.indices.filter(isEval).flatMap(sh(_)).toSet
    // near-dup components: same lang, sharing a 3-gram, rounded Jaccard ≥ 0.5
    val parent = rows.indices.toArray
    def find(i: Int): Int = { var x = i; while (parent(x) != x) x = parent(x); x }
    def union(a: Int, b: Int): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (rows(ra)._1 < rows(rb)._1) parent(rb) = ra else parent(ra) = rb }
    }
    val postings = mutable.HashMap.empty[(String, String), mutable.ArrayBuffer[Int]]
    for (i <- rows.indices; g <- sh(i))
      postings.getOrElseUpdate((rows(i)._2, g), mutable.ArrayBuffer.empty) += i
    val tried = mutable.HashSet.empty[Long]
    for (ds <- postings.valuesIterator; x <- ds.indices; y <- x + 1 until ds.size) {
      val (a, b) = (ds(x), ds(y))
      if (tried.add(a.toLong * rows.length + b)) {
        val inter = sh(a).count(sh(b).contains)
        val j = inter.toDouble / (sh(a).size + sh(b).size - inter)
        if (BigDecimal(j).setScale(4, BigDecimal.RoundingMode.HALF_UP) >= 0.5) union(a, b)
      }
    }
    def bucket(id: Long): Long = java.lang.Math.floorMod(id * 48271L + 11L, 1000L)
    rows.indices.filter { i =>
      val (id, _, t) = rows(i)
      !isEval(i) && t.length >= MinTokens && !sh(i).exists(evalSh.contains) &&
        rows(find(i))._1 == id && bucket(id) < Permille
    }.map(i => (rows(i)._1, rows(i)._2, rows(i)._3.length)).toSet
  }
}
