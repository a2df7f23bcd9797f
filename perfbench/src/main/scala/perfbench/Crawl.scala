package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{Canonicalize, Constants, Fixtures, Parsers}
import graft.operators._
import graft.oracle.SequentialCrawler

import Crawl._

/** `crawl_batches`: a fresh multi-batch `CrawlLoop.runWithFixtures` per op,
  * over the program's own crawl fixture derived from seeded documents.
  * Two Δ-windows over the capture range and politeness budgets ×20 keep
  * every batch below `Scheduler.BroadcastFetchBound` (broadcast fetch and
  * the window rank): the politeness-bounded norm, where the fixed per-batch
  * cost dominates.
  *
  * Batch latencies are read off the outputs: each batch's manifest commit
  * time (its checkpoint file's mtime) minus the previous commit (the op
  * start for batch 1). Every op's articles, fetch_order, seen set and funnel
  * counters are compared with `SequentialCrawler` on the same pages. */
final class Crawl extends Workload {
  val name = "crawl_batches"
  private val Windows = 2
  private var fixDir = ""
  private var cfg: CrawlConfig = _
  private var oracle: Option[Expected] = None
  private var lastDir = ""
  private var fingerprint = ""

  def inputs: Map[String, Any] = Map("docs" -> Docs, "docs_fingerprint" -> fingerprint,
    "delta_per_batch_s" -> Option(cfg).map(_.deltaPerBatchSec).getOrElse(0L),
    "budget_scale" -> Option(cfg).map(_.budgetScale).getOrElse(0))

  def checks: Seq[String] = Seq(
    "articles (url, batch_id, fetch_order) == SequentialCrawler",
    "seen set (url -> status) == SequentialCrawler",
    "funnel counters scheduled/fetched/parsed/articles == SequentialCrawler")

  def prepare(ctx: Ctx, rep: Int): Unit = {
    val spark = ctx.spark
    val generated = Inputs.docs(ctx.seed, Docs)
    fingerprint = Inputs.fingerprint(generated)
    val sfDir = Inputs.writeDocs(spark, ctx.work.resolve(s"docs_${ctx.seed}_$rep"), generated)
    fixDir = Fixtures.ensure(spark, sfDir)
    val maxTs = spark.read.parquet(s"$fixDir/pages.parquet")
      .agg(max("warc_ts")).head().getTimestamp(0).toInstant.getEpochSecond
    val span = maxTs - Constants.EPOCH.getEpochSecond + 1
    cfg = CrawlConfig(deltaPerBatchSec = span / Windows + 1, budgetScale = 20,
      runTag = s"perfbench_${name}_${ctx.seed}")
    oracle = None
  }

  /** One whole crawl: both batch plan shapes (empty and non-empty seen
    * state) are compiled before the clock starts. */
  def warmup(ctx: Ctx): Unit = crawlOnce(ctx)

  private def crawlOnce(ctx: Ctx): CrawlLoop.RunResult =
    CrawlLoop.runWithFixtures(ctx.spark, fixDir, cfg, fresh = true)

  def step(ctx: Ctx, rec: Recorder, i: Int): Unit = {
    var startMs = 0L
    val op = Op[CrawlLoop.RunResult]("crawl",
      () => { startMs = System.currentTimeMillis(); crawlOnce(ctx) },
      r => check(ctx, r, startMs))
    rec.attempt(op, (a, b) => ctx.tracer.record("crawl", a, b))
      .foreach(r => lastDir = r.dir)
  }

  private def expected(ctx: Ctx): Expected = oracle.getOrElse {
    val spark = ctx.spark
    val pages = spark.read.parquet(s"$fixDir/pages.parquet")
      .select(col("url"), unix_timestamp(col("warc_ts")), col("html"), col("text"), col("lang"))
      .collect().toSeq.map(r => SequentialCrawler.PageCap(r.getString(0), r.getLong(1),
        r.getAs[Array[Byte]](2), r.getString(3), r.getString(4)))
    val seeds = spark.read.parquet(s"$fixDir/seeds.parquet").collect().map(_.getString(0)).toSeq
    val o = SequentialCrawler.crawl(pages, seeds, cfg)
    // The oracle mirrors the loop's funnel: scheduled = fetched + missing.
    val fetched = o.seen.count(_._2 == "fetched").toLong
    val missing = o.seen.count(_._2 == "missing").toLong
    val e = Expected(o.articles.map(a => (a.url, a.batchId, a.fetchOrder)), o.seen,
      o.batches, fetched + missing, fetched, fetched)
    oracle = Some(e)
    e
  }

  private def check(ctx: Ctx, r: CrawlLoop.RunResult, startMs: Long): Either[String, Outcome] = {
    val e = expected(ctx)
    val spark = ctx.spark
    val got = CrawlLoop.articles(spark, r.dir)
      .select("url", "batch_id", "fetch_order").collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2))).toSeq.sortBy(_._3)
    val seen = CrawlLoop.seenUpTo(spark, r.dir, r.batches)
      .select("url", "status").collect().map(x => x.getString(0) -> x.getString(1)).toMap
    val counters = (r.scheduledTotal, r.fetchedTotal, r.parsedTotal, r.articleCount)
    val want = (e.scheduled, e.fetched, e.parsed, e.articles.size.toLong)
    if (got != e.articles) Left(s"articles differ from SequentialCrawler (${got.size} vs ${e.articles.size})")
    else if (seen != e.seen) Left(s"seen set differs from SequentialCrawler (${seen.size} vs ${e.seen.size})")
    else if (counters != want) Left(s"funnel $counters != oracle $want")
    else if (r.batches != e.batches) Left(s"batches ${r.batches} != oracle ${e.batches}")
    else {
      val commits = (1L to r.batches).map(k =>
        Files.getLastModifiedTime(Paths.get(r.dir, "checkpoints", s"$k.json")).toMillis)
      val batchSecs = (startMs +: commits).sliding(2).map { case Seq(a, b) => (b - a) / 1e3 }.toSeq
      Right(Outcome((r.scheduledTotal + r.fetchedTotal + r.parsedTotal).toDouble,
        batchSecs.map("batch" -> _)))
    }
  }

  def endToEnd(rec: Recorder): EndToEnd =
    EndToEnd.of(rec.work("crawl") / rec.busy("crawl"), rec.secs("batch"))

  /** Replays every batch of the last measured crawl from its committed
    * state, one public layer call at a time, each forced on its own. The
    * phases do not fuse here as they do in the loop, so the per-phase
    * times bound, not partition, the batch wall. */
  def layers(ctx: Ctx, rec: Recorder): Map[String, Double] = {
    val spark = ctx.spark
    val m = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    val dir = lastDir
    val batches = Checkpoints.lastCommitted(dir).getOrElse(0L)
    val replay = ctx.work.resolve("replay").toString
    Checkpoints.deleteRecursively(replay)
    val pages = spark.read.parquet(s"$fixDir/pages.parquet").cache()
    val robots = spark.read.parquet(s"$fixDir/robots.parquet")
    val weights = spark.read.parquet(s"$fixDir/source_weights.parquet")
    val budgets = spark.read.parquet(s"$fixDir/budgets.parquet")
    // the strategy choices CrawlLoop.runWithFixtures makes per run
    val budgetRow = budgets.agg(sum("budget"), count(lit(1))).head()
    val scheduledBound = 2L * budgetRow.getLong(0) * cfg.budgetScale
    val distHostRank = scheduledBound > Scheduler.BroadcastFetchBound &&
      budgetRow.getLong(1) <= CrawlLoop.DistHostRankMaxHosts
    var articlesSoFar = 0L
    for (k <- 1L to batches) {
      val lo = Constants.EPOCH.getEpochSecond + (k - 1) * cfg.deltaPerBatchSec
      var frontier: DataFrame = null
      var shards: DataFrame = null
      var seenExact: DataFrame = null
      m("ckpt.read_s") += ctx.timed("ckpt.read") {
        frontier = (if (k == 1) CrawlLoop.seedFrontier(spark, fixDir)
          else Checkpoints.readSnap(spark, dir, k - 1, "frontier")).cache()
        shards = (if (k == 1) Checkpoints.emptyFrame(spark, CrawlLoop.ShardSchema)
          else Checkpoints.readSnap(spark, dir, k - 1, "seen_shards")).cache()
        seenExact = CrawlLoop.seenUpTo(spark, dir, k - 1).cache()
        frontier.count(); shards.count(); seenExact.count()
      }
      val cands = Scheduler.deltaScan(pages, lo, lo + cfg.deltaPerBatchSec)
        .unionByName(frontier.select("url", "discovered_ts", "host"))
        .groupBy("url", "host").agg(max("discovered_ts").as("discovered_ts"))
        .withColumn("url_hash", Canonicalize.urlHash(col("url"))).cache()
      m("crawl.scan_s") += ctx.timed("crawl.scan") { m("crawl.candidates") += cands.count() }
      val (fresh, dedupCached) = BloomSeen.antiJoinSeen(spark, cands, seenExact,
        Some(shards), cfg.bloomBroadcastProbe)
      val newRows = fresh.cache()
      m("seen.probe_s") += ctx.timed("seen.probe") { m("crawl.new_urls") += newRows.count() }
      if (!shards.isEmpty) {
        val flagged = BloomSeen.tagMaybeSeenBucketed(cands, shards)
          .filter(col("__maybe_seen")).select("url_hash").cache()
        val nFlagged = flagged.count()
        val nSeen = flagged.join(seenExact.select("url_hash"), Seq("url_hash"), "left_semi").count()
        m("seen.flagged") += nFlagged
        m("seen.false_pos") += nFlagged - nSeen
        flagged.unpersist()
      }
      m("robots.tag_s") += ctx.timed("robots.tag") {
        m("crawl.robots_excluded") +=
          Robots.tag(newRows, robots).filter(col("robots_excluded")).count()
      }
      m("sched.rank_s") += ctx.timed("sched.rank") {
        val s = Scheduler.schedule(newRows, robots, weights, budgets, cfg, distHostRank)
        m("crawl.scheduled") += s.scheduled.count()
        m("crawl.deferred") += s.deferred.count()
        s.cached.foreach(_.unpersist())
      }
      var r: BatchResult = null
      m("crawl.plan_s") += ctx.timed("crawl.plan") {
        r = Scheduler.runBatch(spark, pages, frontier, seenExact, shards, robots,
          weights, budgets, k, articlesSoFar, cfg, scheduledBound, distHostRank)
      }
      val newShards = BloomSeen.mergeShards(shards, BloomSeen.buildShards(r.seenDelta.select("url_hash")))
      m("ckpt.write_s") += ctx.timed("ckpt.write") {
        Checkpoints.writeState(spark, replay, k, r.frontier, r.seenDelta, newShards,
          r.articles, r.fetchLog, r.hostLog, compact = cfg.compactState)
      }
      r.cached.foreach(_.unpersist())
      val (nSched, nFetched, nParsed, nArticles) = Checkpoints.batchCounts(spark, replay, k)
      m("ckpt.commit_ms") += 1e3 * ctx.timed("ckpt.commit") {
        Checkpoints.commitManifest(replay, Checkpoints.Manifest(k, articlesSoFar + nArticles,
          nSched, nFetched, nParsed, 0, 0, 0))
      }
      articlesSoFar += nArticles
      m("crawl.fetched") += nFetched
      m("crawl.parsed") += nParsed
      m("crawl.articles") += nArticles
      val delta = spark.read.parquet(s"$replay/seen/b$k").select("url_hash").cache()
      delta.count()
      m("seen.build_s") += ctx.timed("seen.build") {
        ctx.force(BloomSeen.mergeShards(shards, BloomSeen.buildShards(delta)))
      }
      delta.unpersist()
      val arts = spark.read.parquet(s"$replay/articles/b$k")
        .select("url_hash", "fetch_order", "url").cache()
      arts.count()
      m("order.rank_s") += ctx.timed("order.rank") {
        ctx.force(GlobalOrder.withRank(arts, Seq(desc("fetch_order"), asc("url")),
          cfg.numBuckets, "__ord"))
      }
      arts.unpersist()
      Seq(frontier, shards, seenExact, cands, newRows).foreach(_.unpersist())
      dedupCached.foreach(_.unpersist())
    }
    m("seen.shard_bytes") = spark.read.parquet(Checkpoints.snapDir(replay, batches) + "/seen_shards")
      .agg(sum(octet_length(col("filter")))).head().getLong(0).toDouble
    pages.unpersist()
    val n = batches.toDouble
    for (k <- Seq("ckpt.read_s", "crawl.scan_s", "seen.probe_s", "robots.tag_s",
        "sched.rank_s", "crawl.plan_s", "ckpt.write_s", "ckpt.commit_ms",
        "seen.build_s", "order.rank_s")) m(k) = m(k) / n
    m("seen.fpr") = if (m("seen.flagged") > 0) m("seen.false_pos") / m("seen.flagged") else 0.0
    m.remove("seen.false_pos")
    m("crawl.fetch_hit_ratio") = m("crawl.fetched") / math.max(1.0, m("crawl.scheduled"))
    m("crawl.parse_ok_ratio") = m("crawl.parsed") / math.max(1.0, m("crawl.fetched"))
    m ++= parseLayer(ctx)
    m.toMap
  }

  /** Driver-side loops over the pure parse and canonicalize functions. */
  private def parseLayer(ctx: Ctx): Map[String, Double] = {
    val rows = ctx.spark.read.parquet(s"$fixDir/pages.parquet")
      .select("url", "html", "text").limit(20000).collect()
      .map(r => (r.getString(0), r.getAs[Array[Byte]](1), r.getString(2)))
    val hosts = rows.map(r => Canonicalize.hostScala(r._1).getOrElse(""))
    var ok = 0
    val parseSec = ctx.timed("parse.extract") {
      var i = 0
      while (i < rows.length) {
        if (Parsers.extract(hosts(i), rows(i)._2) == rows(i)._3) ok += 1
        i += 1
      }
    }
    var canon = 0
    val canonSec = ctx.timed("canon.url") {
      rows.foreach(r => if (Canonicalize.canonicalScala(r._1).isDefined) canon += 1)
    }
    Map("parse.pages_per_s" -> rows.length / parseSec,
      "parse.ok_ratio" -> ok.toDouble / math.max(1, rows.length),
      "canon.urls_per_s" -> rows.length / canonSec)
  }
}

object Crawl {
  /** Seeded documents the crawl fixture is derived from. */
  private val Docs = 300

  /** What SequentialCrawler says one crawl of the fixture must produce. */
  private final case class Expected(articles: Seq[(String, Long, Long)],
      seen: Map[String, String], batches: Long, scheduled: Long, fetched: Long,
      parsed: Long)
}
