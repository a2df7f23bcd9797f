package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.ml.Search

import SearchMixed._

/** One news-search client on one persisted index. Ops come in blocks of
  * nine: two rounds of reads, each round one read of every type
  * (`bm25ScoresFromIndex`, `booleanDocsFromIndex`, `phraseDocsFromIndex`,
  * `prefixSuggestFromIndex`) in a seeded order, then one segment append
  * (`updateIndex`) of `BatchDocs` fresh documents. No source in the repo or
  * the paper gives a query mix or an update rate, so the read types get the
  * same weight, and the append rate is set so that appends, about four
  * reads' latency each, take about a third of the measured time and a
  * 15 s run still holds about thirty reads. The traced run's layer pass
  * also runs one `compactIndex` and probes the curation layers over the
  * same corpus (see [[Curation]]). Every `CheckEvery`-th read is compared with the inline
  * (corpus-scan) Search path over the documents committed at that moment. */
final class SearchMixed extends Workload {
  val name = "search_mixed"
  private var path = ""
  private var fingerprint = ""
  private var base: DataFrame = _
  private var committed: DataFrame = _
  private var appended = 0
  private var reads = 0
  private var seed = 0L
  private var rnd: java.util.SplittableRandom = _
  private val buildSecs = mutable.ArrayBuffer.empty[Double]

  def inputs: Map[String, Any] = Map("docs" -> Docs, "docs_fingerprint" -> fingerprint,
    "update_batch_docs" -> BatchDocs, "block" -> "2 x (bm25, boolean, phrase, prefix in seeded order), append",
    "check_every_reads" -> CheckEvery)

  def checks: Seq[String] = Seq(
    "sampled bm25ScoresFromIndex == bm25Scores (4 dp) on the committed documents",
    "sampled booleanDocsFromIndex == booleanDocs, phraseDocsFromIndex == phraseDocs",
    "sampled prefixSuggestFromIndex == prefixSuggest")

  def prepare(ctx: Ctx, rep: Int): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val all = Inputs.docs(ctx.seed, Docs)
    fingerprint = Inputs.fingerprint(all)
    base = all.toDS().toDF().select("doc_id", "text", "lang").cache()
    base.count()
    seed = ctx.seed
    appended = 0
    reads = 0
    round = Nil
    committed = base
    rnd = new java.util.SplittableRandom(ctx.seed)
    path = ctx.work.resolve(s"index_${ctx.seed}_$rep").toString
    val t0 = System.nanoTime()
    Search.saveIndex(base, path)
    buildSecs += (System.nanoTime() - t0) / 1e9
  }

  /** Append batch `k`: `BatchDocs` documents drawn from the run's seed and
    * `k`, with doc_ids after every earlier batch's, so the supply never
    * runs out. */
  private def batch(ctx: Ctx, k: Int): DataFrame = {
    val spark = ctx.spark
    import spark.implicits._
    Inputs.docs(seed * 0x5bd1e995L + k, BatchDocs)
      .map(d => d.copy(doc_id = Docs + k.toLong * BatchDocs + d.doc_id))
      .toDS().toDF().select("doc_id", "text", "lang")
  }

  /** `WarmupBlocks` blocks of the measured mix (seeded reads, their checks,
    * the appends), recorded nowhere: read latencies fall steeply over the
    * first few rounds (JIT), and timing starts after that. */
  def warmup(ctx: Ctx): Unit = {
    val scratch = new Recorder
    for (i <- 0 until WarmupBlocks * BlockOps) step(ctx, scratch, i)
    require(scratch.failed == 0, s"warmup: ${scratch.failures.mkString("; ")}")
  }

  private def common(): String = Inputs.Vocab(rnd.nextInt(Inputs.Vocab.size))
  private def tail(): String =
    Inputs.tailWord(math.min(rnd.nextInt(Inputs.TailSize), rnd.nextInt(Inputs.TailSize)))

  /** The read types still to come in the current round, in seeded order;
    * each type has a fixed shape (the seed picks the words), so runs compare
    * like with like. */
  private var round: List[Int] = Nil

  private def nextQuery(): Query = {
    if (round.isEmpty) round = List(0, 1, 2, 3).sortBy(_ => rnd.nextInt())
    val t = round.head
    round = round.tail
    t match {
      case 0 => Bm25(Seq(common(), common(), tail()).distinct)
      case 1 => Bool(Seq(common(), common()).distinct, Seq(tail()))
      case 2 => Phrase(s"${common()} ${common()}")
      case _ => Prefix(common().take(1))
    }
  }

  private def read(ctx: Ctx, q: Query): Seq[Row] = {
    val s = ctx.spark
    (q match {
      case Bm25(t) => Search.bm25ScoresFromIndex(s, path, t)
      case Bool(m, n) => Search.booleanDocsFromIndex(s, path, m, n)
      case Phrase(p) => Search.phraseDocsFromIndex(s, path, p)
      case Prefix(p) => Search.prefixSuggestFromIndex(s, path, p, 5)
    }).collect().toSeq
  }

  /** None when the index read equals the inline path over `committed`. */
  private def verify(ctx: Ctx, q: Query, got: Seq[Row]): Option[String] = {
    def ids(rows: Seq[Row]) = rows.map(_.getLong(0)).sorted
    q match {
      case Bm25(t) =>
        val want = Search.bm25Scores(committed, t).collect()
          .map(r => r.getLong(0) -> r.getDouble(1)).toMap
        val have = got.map(r => r.getLong(0) -> r.getDouble(1)).toMap
        // both sides round to 4 dp; their sums differ only in addition order
        if (want.keySet == have.keySet &&
            want.forall { case (d, s) => math.abs(have(d) - s) <= 1.5e-4 }) None
        else Some(s"bm25 $t: ${have.size} docs vs inline ${want.size}")
      case Bool(m, n) =>
        val want = ids(Search.booleanDocs(committed, m, n).collect().toSeq)
        if (want == ids(got)) None else Some(s"boolean $m -$n: ${got.size} vs ${want.size}")
      case Phrase(p) =>
        val want = ids(Search.phraseDocs(committed, p).collect().toSeq)
        if (want == ids(got)) None else Some(s"phrase '$p': ${got.size} vs ${want.size}")
      case Prefix(p) =>
        val want = Search.prefixSuggest(committed, p, 5).collect().toSeq
          .map(r => (r.getString(0), r.getLong(1)))
        val have = got.map(r => (r.getString(0), r.getLong(1)))
        if (want == have) None else Some(s"prefix '$p': $have vs $want")
    }
  }

  private def update(ctx: Ctx, b: DataFrame): Unit = {
    Search.updateIndex(ctx.spark, path, b)
    appended += 1
    committed = committed.unionByName(b)
  }

  def step(ctx: Ctx, rec: Recorder, i: Int): Unit =
    if (i % BlockOps == BlockOps - 1) {
      // the batch is built before the clock starts; only the append is timed
      val docs = batch(ctx, appended)
      rec.attempt(Op[Unit]("update", () => update(ctx, docs), _ => Right(Outcome(1.0))),
        (a, b) => ctx.tracer.record("update", a, b))
    } else {
      val q = nextQuery()
      val sampled = reads % CheckEvery == 0
      reads += 1
      rec.attempt(Op[Seq[Row]](s"q_${q.kind}", () => read(ctx, q),
        rows => (if (sampled) verify(ctx, q, rows) else None).toLeft(Outcome(1.0))),
        (a, b) => ctx.tracer.record(s"query:${q.kind}", a, b))
    }

  private val kinds = Seq("bm25", "boolean", "phrase", "prefix")
  private def querySecs(rec: Recorder): Seq[Double] = kinds.flatMap(k => rec.secs(s"q_$k"))

  /** Requests per second of the block mix (eight reads, one append) from the
    * mean read and append latencies, so whether a run ends inside a block
    * does not move it; the read latencies are the pooled per-read median and
    * 90th percentile. */
  def endToEnd(rec: Recorder): EndToEnd = {
    val q = querySecs(rec)
    val u = rec.secs("update")
    def mean(xs: Seq[Double]) = xs.sum / xs.size
    val rate = if (u.isEmpty) q.size / q.sum
      else BlockOps / ((BlockOps - 1) * mean(q) + mean(u))
    EndToEnd.of(rate, q)
  }

  def layers(ctx: Ctx, rec: Recorder): Map[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    val nq = math.max(1, querySecs(rec).size).toDouble
    val nu = math.max(1, rec.secs("update").size).toDouble
    val (_, eq) = ctx.tracer.engineUnder("op", _.startsWith("query:"))
    val (_, eu) = ctx.tracer.engineUnder("op", _ == "update")
    m("search.plan_ms") = eq.getOrElse("plan_ms", 0L) / nq
    m("search.exec_ms") = eq.getOrElse("exec_ms", 0L) / nq
    m("search.jobs_per_query") = eq.getOrElse("jobs", 0L) / nq
    m("search.input_kb_per_query") = eq.getOrElse("input", 0L) / 1024.0 / nq
    for (k <- kinds) {
      val s = rec.secs(s"q_$k")
      m(s"search.${k}_p50_ms") = if (s.isEmpty) 0.0 else 1e3 * Harness.median(s)
    }
    m("index.update_p50_ms") =
      if (rec.secs("update").isEmpty) 0.0 else 1e3 * Harness.median(rec.secs("update"))
    m("index.update_jobs") = eu.getOrElse("jobs", 0L) / nu
    m("index.update_write_kb") = eu.getOrElse("output", 0L) / 1024.0 / nu
    m("index.build_s") = Harness.median(buildSecs.toSeq)
    m("index.segments") = Files.list(Path.of(path, "postings")).iterator().asScala
      .count(_.getFileName.toString.startsWith("seg=")).toDouble
    m("index.compact_s") = ctx.timed("index.compact")(Search.compactIndex(ctx.spark, path))
    val after = Bm25(Seq("spark", "window"))
    verify(ctx, after, read(ctx, after)).foreach(e => throw new IllegalStateException(s"after compaction: $e"))
    // The curation layers have no workload of their own; they are probed
    // over this corpus (eval slice from the seed).
    m ++= Curation.layers(ctx, base, ((ctx.seed % 37) + 37) % 37)
    m.toMap
  }
}

object SearchMixed {
  private val Docs = 1000
  private val BatchDocs = 50
  /** Ops per block: two rounds of one read of each of the four types, then
    * one append. */
  private val BlockOps = 9
  private val WarmupBlocks = 3
  /** Reads are checked against the inline path one in this many; it is
    * coprime with the four reads of a round, so every position is checked. */
  private val CheckEvery = 5
  private sealed trait Query { def kind: String }
  private final case class Bm25(terms: Seq[String]) extends Query { val kind = "bm25" }
  private final case class Bool(must: Seq[String], not: Seq[String]) extends Query { val kind = "boolean" }
  private final case class Phrase(p: String) extends Query { val kind = "phrase" }
  private final case class Prefix(p: String) extends Query { val kind = "prefix" }
}
