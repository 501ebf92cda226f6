package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.SparkInternals
import org.apache.spark.sql.{Row, SparkSession}

import graft.api.Engine
import graft.ingest.TweetIngest
import graft.operators.{Keywords, TweetSearch, UserQueries}

/** Serving workloads: raw capture → `TweetIngest.run` → `Engine` under a
  * closed loop of concurrent clients → checkpoint, fresh `Engine`, restore
  * → the catalog phase (`CatalogPhase`) on the seeded events table.
  *
  * Every call is timed from outside the program. Each request runs under
  * its own Spark job group, so a request that launched no job was answered
  * from the result cache. Prints one JSON line:
  * {"attempted","failed","errors","e2e":{...},"layers":{...}}.
  *
  * Usage: Serve <runDir> <seconds> <clients> <trace 0|1> <injectFault 0|1> <traceOut>
  */
object Serve {

  final case class Req(kind: String, f: Array[String]) {
    val key: String = kind + "\t" + f.mkString("\t")
  }

  /** Set-ups per run; `setup_s` is their median. The first one is cold. */
  val Setups = 3

  /** One completed request. It keeps a digest of the response rows, not the
    * rows, so the retained heap counts the program's state, not the harness's.
    */
  final class Done(val ord: Int, val req: Req, val startNs: Long, val endNs: Long,
      val digest: String, val error: Throwable, val overlapped: Boolean, val timed: Boolean) {
    def ms: Double = (endNs - startNs) / 1e6
    def group: String = "req" + ord
  }

  /** Order-sensitive SHA-256 of the rows: equal digests, equal responses. */
  def digest(rows: Seq[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach { r => md.update(r.toString.getBytes("UTF-8")); md.update(0.toByte) }
    md.digest().map(b => f"$b%02x").mkString
  }

  /** Attributes the calling thread's Spark jobs to `group`: the job group
    * tells hits from misses, and the local property, which threads started
    * from this one inherit (streaming query threads too, which replace the
    * job group with their own), tells the traced run's listener the caller.
    */
  def inGroup(sc: SparkContext, group: String, description: String = null): Unit = {
    sc.setJobGroup(group, Option(description).getOrElse(group), false)
    sc.setLocalProperty(JobListener.GroupProperty, group)
  }

  def clearGroup(sc: SparkContext): Unit = {
    sc.clearJobGroup()
    sc.setLocalProperty(JobListener.GroupProperty, null)
  }

  def call(e: Engine, r: Req): Seq[Row] = r.kind match {
    case "search_kw"       => e.searchTweets(keyword = Some(r.f(0)), limit = r.f(1).toInt)
    case "search_tag"      => e.searchTweets(hashtags = Seq(r.f(0)), limit = r.f(1).toInt)
    case "search_filtered" => e.searchTweets(keyword = Some(r.f(0)), lang = Some(r.f(1)),
                                dateRange = Some((r.f(2), r.f(3))), limit = r.f(4).toInt)
    case "user"            => e.userByScreenName(r.f(0))
    case "user_tweets"     => e.tweetsForUser(r.f(0))
    case "top_users"       => e.topUsersByFollowers(r.f(0).toInt)
    case "top_favs"        => e.topTweetsByFavorites(r.f(0).toInt)
    case "top_keywords"    => e.topKeywords(r.f(0).toInt)
  }

  /** The same request computed directly by the operators, bypassing the cache. */
  def direct(e: Engine, r: Req): Seq[Row] = (r.kind match {
    case "search_kw"       => TweetSearch.searchWithAuthors(e.tweets, e.users,
                                keyword = Some(r.f(0)), limit = r.f(1).toInt)
    case "search_tag"      => TweetSearch.searchWithAuthors(e.tweets, e.users,
                                hashtags = Seq(r.f(0)), limit = r.f(1).toInt)
    case "search_filtered" => TweetSearch.searchWithAuthors(e.tweets, e.users,
                                keyword = Some(r.f(0)), lang = Some(r.f(1)),
                                dateRange = Some((r.f(2), r.f(3))), limit = r.f(4).toInt)
    case "user"            => UserQueries.byScreenName(e.users, r.f(0))
    case "user_tweets"     => UserQueries.tweetsForUser(e.tweets, e.users, r.f(0))
    case "top_users"       => UserQueries.topByFollowers(e.users, r.f(0).toInt)
    case "top_favs"        => TweetSearch.topTweetsByFavorites(e.tweets, r.f(0).toInt)
    case "top_keywords"    => Keywords.topKeywords(e.tweets, "text", r.f(0).toInt)
  }).collect().toSeq

  val kinds = Seq("search_kw", "search_tag", "search_filtered", "user", "user_tweets",
    "top_users", "top_favs", "top_keywords")

  def session(runDir: Path, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .config("spark.local.dir", runDir.resolve("local").toString)
      // Hit/miss classification reads the loop's jobs back from the status
      // store, so none may be dropped from it. A job record is small; stage
      // and task retention stay at Spark's defaults.
      .config("spark.ui.retainedJobs", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = p * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  def main(args: Array[String]): Unit = {
    val Array(runDirS, secondsS, clientsS, traceS, faultS, traceOut) = args
    val runDir = Paths.get(runDirS)
    val seconds = secondsS.toDouble
    val clients = clientsS.toInt
    val tracer = new Tracer(traceS == "1")
    val cores = Runtime.getRuntime.availableProcessors()
    val manifest = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(runDir.resolve("manifest.json").toFile)
    def num(k: String): Long = manifest.get(k).asLong
    val scan = manifest.get("workload").asText == "serve_scan"
    val cacheSize = num("cache_entries").toInt
    var plan: IndexedSeq[Req] = Files.readAllLines(runDir.resolve("requests.tsv")).asScala
      .map { l => val p = l.split("\t"); Req(p(0), p.drop(1)) }.toIndexedSeq
    val raw = runDir.resolve("capture.jsonl").toString

    val attempted = new AtomicLong(0)
    val failed = new AtomicLong(0)
    val errors = new ConcurrentHashMap[String, AtomicInteger]()
    def fail(what: String): Unit = {
      failed.incrementAndGet()
      errors.computeIfAbsent(what, _ => new AtomicInteger()).incrementAndGet()
    }
    def check(what: String)(ok: => Boolean): Unit = {
      attempted.incrementAndGet()
      val passed = try ok catch { case e: Throwable =>
        System.err.println(s"[perfbench] $what: $e"); false }
      if (!passed) fail(what)
    }

    // ---- set-up: session start + ingest + table warm-up, several times --
    var spark: SparkSession = null
    var engine: Engine = null
    var listener: JobListener = null
    var ingestS, warmS = 0.0
    var tweetsPath, usersPath = ""
    val setupSamples = (1 to Setups).map { i =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(runDir, cores)
      if (tracer.enabled) {
        listener = new JobListener(tracer)
        spark.sparkContext.addSparkListener(listener)
      }
      val sc = spark.sparkContext
      val out = runDir.resolve(s"curated$i")
      tweetsPath = out.resolve("tweets").toString
      usersPath = out.resolve("users").toString
      val (tweets, users) = tracer.span("setup") { root =>
        val t1 = System.nanoTime()
        inGroup(sc, "ingest")
        val counts = tracer.span("ingest.run", root, group = "ingest") { _ =>
          TweetIngest.run(spark, raw, tweetsPath, usersPath)
        }
        val t2 = System.nanoTime()
        engine = new Engine(spark, tweetsPath, usersPath, cacheSize)
        inGroup(sc, "warm")
        tracer.span("api.warm", root, group = "warm") { _ => engine.tweets.count(); engine.users.count() }
        ingestS = (t2 - t1) / 1e9
        warmS = (System.nanoTime() - t2) / 1e9
        counts
      }
      clearGroup(sc)
      check("ingest_counts")(tweets == num("tweets") && users == num("users"))
      (System.nanoTime() - t0) / 1e9
    }
    val sc = spark.sparkContext

    // ---- closed loop ------------------------------------------------------
    val next = new AtomicInteger(0)
    val inflight = new ConcurrentHashMap[String, AtomicInteger]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[Done]()
    /** `clients` threads take plan requests in turn while `more(ord)`. */
    def drive(timed: Boolean)(more: Int => Boolean): Unit = {
      val threads = (0 until clients).map { _ =>
        val t = new Thread(() => {
          var ord = next.getAndIncrement()
          // serve_zipf draws keys with repetition, so wrapping around the
          // plan keeps its distribution; serve_scan must never repeat one.
          while (more(ord) && !(scan && ord >= plan.size)) {
            val req = plan(ord % plan.size)
            val flight = inflight.computeIfAbsent(req.key, _ => new AtomicInteger())
            val overlapped = flight.getAndIncrement() > 0
            inGroup(sc, "req" + ord, req.kind)
            val t0 = System.nanoTime()
            var rows: Seq[Row] = null
            var err: Throwable = null
            tracer.span("api." + req.kind, req = ord, group = "req" + ord) { _ =>
              try rows = call(engine, req) catch { case e: Throwable => err = e }
            }
            val t1 = System.nanoTime()
            flight.decrementAndGet()
            done.add(new Done(ord, req, t0, t1, if (err == null) digest(rows) else null, err,
              overlapped, timed))
            ord = next.getAndIncrement()
          }
          clearGroup(sc)
        })
        t.start(); t
      }
      threads.foreach(_.join())
    }

    // Untimed prefill until the cache is full. The plan opens with one
    // request of each kind, so the timed loop starts on a full cache and
    // does not time the JIT's first compile of any query path.
    val prefillEnd = System.nanoTime() + (seconds * 1e9).toLong
    drive(timed = false)(_ => engine.cache.size < cacheSize && System.nanoTime() < prefillEnd)
    val firstTimed = next.get
    val loopStart = System.nanoTime()
    val deadline = loopStart + (seconds * 1e9).toLong
    drive(timed = true)(_ => System.nanoTime() < deadline)
    val loopS = (System.nanoTime() - loopStart) / 1e9
    val results = done.asScala.toArray.sortBy(_.ord)
    done.clear()
    SparkInternals.drainListeners(sc)
    val timed = results.filter(_.timed)
    val (misses, hits) = timed.partition(d => sc.statusTracker.getJobIdsForGroup(d.group).nonEmpty)
    // Drop the plan before the heap reading; the requests that ran stay
    // reachable through `results`. Spark's ContextCleaner drops the blocks
    // of collected broadcasts only after a GC has enqueued them, so
    // collect, let it clean, collect again.
    plan = null
    System.gc(); Thread.sleep(500); System.gc()
    val heapMb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
    results.foreach { d =>
      attempted.incrementAndGet()
      if (d.error != null) { System.err.println(s"[perfbench] ${d.req.key}: ${d.error}"); fail("request_error") }
    }

    if (faultS == "1" && results.nonEmpty) {
      // Smoke-test hook: corrupt the first response so the checks must see it.
      val d = results.head
      results(0) = new Done(d.ord, d.req, d.startNs, d.endNs, "corrupt" + d.digest, d.error,
        d.overlapped, d.timed)
    }

    // Every response for a key, hit or miss, must equal the first one: a
    // hit returns the rows of the miss that filled it.
    val firstRows = mutable.LinkedHashMap.empty[String, String]
    results.filter(_.error == null).foreach { d =>
      firstRows.get(d.req.key) match {
        case None => firstRows(d.req.key) = d.digest
        case Some(f) => check("hit_rows")(f == d.digest)
      }
    }

    // ---- restart: checkpoint → fresh Engine → restore --------------------
    val ckpt = runDir.resolve("cache_ckpt").toString
    val entries = engine.cache.size
    val r0 = System.nanoTime()
    var ckptS, restoreS = 0.0
    var engine2: Engine = null
    var restored = -1
    tracer.span("restart") { root =>
      inGroup(sc, "checkpoint")
      tracer.span("cache.checkpoint", root, group = "checkpoint") { _ => engine.checkpointCache(ckpt) }
      val r1 = System.nanoTime()
      engine2 = new Engine(spark, tweetsPath, usersPath, cacheSize)
      inGroup(sc, "restore")
      restored = tracer.span("cache.restore", root, group = "restore") { _ => engine2.restoreCache(ckpt) }
      ckptS = (r1 - r0) / 1e9
      restoreS = (System.nanoTime() - r1) / 1e9
    }
    val restartS = (System.nanoTime() - r0) / 1e9
    inGroup(sc, "check")
    check("restore_entries")(restored == entries)

    // The hottest keys among the last cacheSize / 2 distinct ones touched are
    // certainly in the restored cache: each must be a hit with the same rows.
    val recent = results.filter(_.error == null).sortBy(-_.endNs).map(_.req.key).distinct
      .take(cacheSize / 2)
    val counts = results.groupMapReduce(_.req.key)(_ => 1)(_ + _)
    val byKey = results.map(d => d.req.key -> d.req).toMap
    recent.sortBy(k => -counts(k)).take(10).foreach { k =>
      check("restored_hit") {
        val before = engine2.cache.hits.get
        val same = digest(call(engine2, byKey(k))) == firstRows(k)
        val hit = engine2.cache.hits.get == before + 1
        if (!hit || !same)
          System.err.println(s"[perfbench] restored key ${k.replace('\t', ' ')}: hit=$hit same=$same")
        hit && same
      }
    }

    // A seeded sample of distinct keys, recomputed without the cache. The
    // first request is always in it, so a corrupted first response shows.
    val rng = new scala.util.Random(num("seed"))
    val sample = (firstRows.keys.take(1) ++ rng.shuffle(firstRows.keys.toSeq).take(3)).toSeq.distinct
    sample.foreach(k => check("direct_rows")(digest(direct(engine, byKey(k))) == firstRows(k)))

    // ---- catalog phase: seeded events table → Catalog queries ----------
    val tables = CatalogPhase.writeTables(spark, runDir)
    val expected = CatalogPhase.expected(runDir)
    val order = manifest.get("catalog_order").elements.asScala.map(_.asText).toSeq
    val c0 = System.nanoTime()
    val catalog = tracer.span("catalog") { root =>
      order.map { q =>
        inGroup(sc, "catalog." + q)
        tracer.span("catalog." + q, root, group = "catalog." + q) { _ =>
          try Some(CatalogPhase.run(spark, tables, q))
          catch { case e: Throwable => System.err.println(s"[perfbench] $q: $e"); None }
        }
      }
    }
    val catalogS = (System.nanoTime() - c0) / 1e9
    inGroup(sc, "check")
    // Smoke-test hook: drop a row of the first query's result as well.
    val shown = if (faultS == "1") catalog.updated(0, catalog.head.map(r => r.copy(rows = r.rows.drop(1))))
      else catalog
    order.zip(shown).foreach { case (q, r) =>
      check("catalog_rows")(r.exists(_.rows == expected(q)))
    }
    clearGroup(sc)

    // ---- metrics ---------------------------------------------------------
    val missMs = misses.map(_.ms)
    val e2e = Seq(
      "setup_s" -> median(setupSamples),
      "throughput_rps" -> timed.size / loopS,
      "miss_p50_ms" -> percentile(missMs, 0.50),
      "miss_p95_ms" -> percentile(missMs, 0.95),
      "restart_s" -> restartS,
      "catalog_s" -> catalogS,
      "retained_heap_mb" -> heapMb)

    val layers = mutable.LinkedHashMap.empty[String, Double]
    if (tracer.enabled) {
      SparkInternals.drainListeners(sc)
      val ingestJobs = listener.inGroups(_ == "ingest")
      layers("ingest.run_s") = ingestS
      layers("ingest.raw_mb_per_s") = num("raw_bytes") / 1048576.0 / ingestS
      layers("ingest.jobs") = ingestJobs.size
      layers("api.warm_s") = warmS
      for (k <- kinds) {
        val m = misses.filter(_.req.kind == k).map(_.ms)
        layers(s"api.$k.miss_p50_ms") = percentile(m, 0.50)
        layers(s"api.$k.miss_p95_ms") = percentile(m, 0.95)
        layers(s"api.$k.count") = timed.count(_.req.kind == k)
      }
      val missesCounted = engine.cache.misses.get
      layers("cache.hit_ratio") = hits.size.toDouble / math.max(1, timed.size)
      // Every miss inserts; an insert that did not grow the cache evicted.
      layers("cache.evictions") = math.max(0L, missesCounted - entries)
      layers("cache.hit_p50_us") = percentile(hits.map(_.ms * 1000), 0.50)
      layers("cache.dup_miss_ratio") = misses.count(_.overlapped).toDouble / math.max(1, misses.size)
      layers("cache.checkpoint_s") = ckptS
      layers("cache.restore_s") = restoreS
      layers("cache.entries") = entries
      layers("cache.checkpoint_jobs") = listener.inGroups(_ == "checkpoint").size
      val loopJobs = listener.inGroups(g => g.startsWith("req") && g.drop(3).toInt >= firstTimed)
      layers("spark.jobs_per_miss") = loopJobs.size.toDouble / math.max(1, misses.size)
      layers("spark.tasks_per_job") = loopJobs.map(_.tasks).sum.toDouble / math.max(1, loopJobs.size)
      layers("spark.executor_busy_ratio") = loopJobs.map(_.runMs).sum / 1000.0 / (loopS * cores)
      layers("spark.shuffle_write_mb") = loopJobs.map(_.shuffleWrite).sum / 1048576.0
      layers("spark.spill_mb") = loopJobs.map(_.spill).sum / 1048576.0
      layers("spark.gc_s") = loopJobs.map(_.gcMs).sum / 1000.0
      def inLoop(sp: Span) = sp.req >= firstTimed
      layers("ingest.self_s") = tracer.selfSeconds(_.name == "ingest.run") / setupSamples.size
      layers("api.self_s") = tracer.selfSeconds(sp => sp.name.startsWith("api.") && inLoop(sp))
      layers("cache.self_s") = tracer.selfSeconds(_.name.startsWith("cache."))
      layers("spark.job_s") = tracer.selfSeconds(sp => sp.name == "spark.job" && inLoop(sp))
      for ((q, r) <- order.zip(catalog).sortBy(_._1)) {
        layers(s"catalog.$q.s") = r.map(_.seconds).getOrElse(Double.NaN)
        layers(s"catalog.$q.jobs") = listener.inGroups(_ == "catalog." + q).size
      }
      layers("catalog.self_s") = tracer.selfSeconds(_.name.startsWith("catalog."))
      for (k <- JobListener.StreamingDurations)
        layers(s"streaming.${k}_s") = listener.streamMs(k) / 1000.0
      layers("streaming.batches") = listener.batches
      val w = Files.newBufferedWriter(Paths.get(traceOut))
      try tracer.all.sortBy(_.start).foreach { s => w.write(s.json); w.write("\n") } finally w.close()
    }
    val sparkVersion = spark.version
    spark.stop()

    def obj(kv: Iterable[(String, Any)]): String = kv.map {
      case (k, v: Double) => s""""$k":${if (v.isNaN || v.isInfinite) "null" else v.toString}"""
      case (k, v) => s""""$k":$v"""
    }.mkString("{", ",", "}")
    val errs = errors.asScala.map { case (k, v) => k -> v.get }
    println(s"""{"java":"${System.getProperty("java.version")}","spark":"$sparkVersion",""" +
      s""""attempted":${attempted.get},"failed":${failed.get},"errors":${obj(errs)},""" +
      s""""requests":${timed.size},"misses":${misses.size},"hits":${hits.size},""" +
      s""""setup_samples_s":${setupSamples.mkString("[", ",", "]")},""" +
      s""""e2e":${obj(e2e)},"layers":${obj(layers)}}""")
  }
}
