package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import graft.engine.LHJson

/** Write-through from [[CompactedStateStore]] into [[ServingCache]],
  * the refresh path for files another writer adds, and
  * [[GraftApi.getWfRunAlias]]'s shared scans. Job counts come from a
  * listener on the lookup's own job group, so the streaming and test
  * jobs of other threads never count. */
class ServingCacheSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  private def snap(run: String, seq: Long,
      aliases: Map[String, Seq[String]] = Map.empty): SchedulerOut =
    SchedulerOut(SchedulerOut.SNAPSHOT, run, "spec", "", -1, -1, "RUNNING",
      s"""{"run":"$run","seq":$seq}""", seq, aliases)

  private def frame(rows: SchedulerOut*): DataFrame = {
    import spark.implicits._
    rows.toDS().toDF()
  }

  private def newStore(name: String): (String, CompactedStateStore) = {
    val dir = graft.util.Dirs.scratch(name).toString
    (dir, new CompactedStateStore(dir))
  }

  /** What the distributed path answers for `ids`. */
  private def distributed(store: CompactedStateStore,
      ids: Seq[String]): Seq[ServingCache.Result] = {
    val latest = store.read(spark).select("wfRunId", "json", "wfSpecName")
      .collect().map(r => r.getString(0) -> ServingCache.Hit(r.getString(1),
        r.getString(2))).toMap
    ids.map(latest.getOrElse(_, ServingCache.Miss))
  }

  /** `f`'s result and the number of Spark jobs it started. */
  private def jobsDuring[A](f: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"serving-probe-${java.util.UUID.randomUUID()}"
    val sentinel = s"$group-sentinel"
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "serving probe")
      val a = try f finally sc.clearJobGroup()
      // the bus delivers job starts in order: once the sentinel's is
      // seen, so is every job `f` started
      sc.setJobGroup(sentinel, "serving probe sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 30000
      while (!seen.contains(sentinel) && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      assert(seen.contains(sentinel), "listener never saw the sentinel job")
      (a, seen.asScala.count(_ == group))
    } finally sc.removeSparkListener(listener)
  }

  private def lookups(cache: ServingCache, ids: Seq[String]) =
    jobsDuring(ids.map(cache.lookup(spark, _)))

  test("a lookup runs no Spark job after an in-process append or compaction") {
    val (_, store) = newStore("graft-serving-wt")
    store.append(frame(snap("r1", 1), snap("r2", 1)))
    val cache = new ServingCache(store)
    val ids = Seq("r1", "r2", "r3")

    // written before the cache existed: the first lookup refreshes
    val (cold, coldJobs) = lookups(cache, ids)
    assert(coldJobs > 0, "the refresh of files the cache never saw runs a job")
    assert(cold == distributed(store, ids))

    store.append(frame(snap("r1", 2), snap("r3", 1)))
    val (afterAppend, appendJobs) = lookups(cache, ids)
    assert(appendJobs == 0, s"$appendJobs jobs after a written-through append")
    assert(afterAppend == distributed(store, ids))
    assert(afterAppend.head == ServingCache.Hit("""{"run":"r1","seq":2}""", "spec"))

    assert(store.compact(spark) > 0L)
    val (afterCompact, compactJobs) = lookups(cache, ids)
    assert(compactJobs == 0,
      s"$compactJobs jobs after compacting inputs the cache had merged")
    assert(afterCompact == distributed(store, ids))

    // a second round: the new base is merged, so folding it again with
    // a fresh delta is written through as well
    store.append(frame(snap("r2", 5)))
    assert(store.compact(spark) > 0L)
    val (again, againJobs) = lookups(cache, ids)
    assert(againJobs == 0)
    assert(again == distributed(store, ids))
  }

  test("another store instance's append and compaction reach the next lookup") {
    val (dir, store) = newStore("graft-serving-other")
    val cache = new ServingCache(store)
    store.append(frame(snap("r1", 1)))
    val other = new CompactedStateStore(dir)
    val ids = Seq("r1", "r2")

    other.append(frame(snap("r1", 2), snap("r2", 1)))
    val (seen, jobs) = lookups(cache, ids)
    assert(jobs > 0, "another writer's files are read by the refresh path")
    assert(seen == distributed(store, ids))
    assert(seen.head == ServingCache.Hit("""{"run":"r1","seq":2}""", "spec"))

    // another instance's compaction tells this cache nothing: its new
    // base is read by the refresh path
    assert(other.compact(spark) > 0L)
    val (afterCompact, compactJobs) = lookups(cache, ids)
    assert(compactJobs > 0)
    assert(afterCompact == distributed(store, ids))

    // this instance's own append and compaction go back to write-through
    store.append(frame(snap("r2", 3)))
    store.compact(spark)
    val (own, ownJobs) = lookups(cache, ids)
    assert(ownJobs == 0)
    assert(own == distributed(store, ids))
  }

  test("the streaming sink writes through to a registered cache") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val (_, store) = newStore("graft-serving-stream")
    val cache = new ServingCache(store)
    val input = MemoryStream[SchedulerOut]
    val query = Scheduler.busStoreSink(input.toDS(),
      graft.util.Dirs.scratch("graft-serving-bus").toString, store,
      graft.util.Dirs.scratch("graft-serving-ckpt").toString).start()
    try {
      input.addData(snap("s1", 1), snap("s2", 1))
      query.processAllAvailable()
      input.addData(snap("s1", 2))
      query.processAllAvailable()
      val ids = Seq("s1", "s2")
      val (seen, jobs) = lookups(cache, ids)
      assert(jobs == 0, s"$jobs jobs after foreachBatch appends")
      assert(seen == distributed(store, ids))
      assert(seen.head == ServingCache.Hit("""{"run":"s1","seq":2}""", "spec"))
    } finally query.stop()
  }

  test("write-through past maxEntries flips the cache to Bypass") {
    val (_, store) = newStore("graft-serving-bound")
    val cache = new ServingCache(store, maxEntries = 2)
    store.append(frame(snap("r1", 1), snap("r2", 1)))
    assert(!cache.isBypassed && cache.size == 2)
    store.append(frame(snap("r1", 2)))
    assert(!cache.isBypassed && cache.size == 2, "a newer snapshot of a cached run")
    store.append(frame(snap("r3", 1)))
    assert(cache.isBypassed && cache.size == 0)
    assert(cache.lookup(spark, "r1") == ServingCache.Bypass)
  }

  private def aliasApi(store: CompactedStateStore): GraftApi = {
    val meta = new MetadataStore(spark,
      graft.util.Dirs.scratch("graft-serving-meta").toString)
    new GraftApi(spark, meta,
      graft.util.Dirs.scratch("graft-serving-bus").toString, Some(store))
  }

  private def ids(response: String): Vector[String] =
    LHJson.parse(response).asInstanceOf[ListMap[String, Any]]("result")
      .asInstanceOf[Vector[Any]].map(_.toString)

  /** Run `body(thread)` on `n` threads started together; rethrows the
    * first failure. */
  private def concurrently(n: Int)(body: Int => Unit): Unit = {
    val go = new CountDownLatch(1)
    val failures = new ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until n).map { t =>
      val th = new Thread(() => {
        go.await()
        try body(t) catch { case e: Throwable => failures.add(e) }
      }, s"alias-search-$t")
      th.start()
      th
    }
    go.countDown()
    threads.foreach(_.join(180000))
    assert(threads.forall(!_.isAlive), "a search thread hung")
    failures.asScala.headOption.foreach(throw _)
  }

  test("concurrent alias searches each get their own answer") {
    val (_, store) = newStore("graft-serving-alias")
    val runs = (0 until 40).map { i =>
      snap(s"a$i", 1, Map("email" -> Seq(s"e${i % 8}"),
        "tag" -> Seq(if (i % 2 == 0) "even" else "odd", s"t${i % 5}")))
    }
    store.append(frame(runs: _*))
    val api = aliasApi(store)
    def expected(key: String, value: String): Vector[String] =
      runs.filter(_.aliases.get(key).exists(_.contains(value)))
        .map(_.wfRunId).sorted.toVector
    val queries = Seq("email" -> "e3", "tag" -> "odd", "tag" -> "t2",
      "email" -> "nobody", "missing" -> "e1", "email" -> "e0")
    concurrently(8) { t =>
      for (round <- 0 until 4) {
        val (key, value) = queries((t + round) % queries.length)
        assert(ids(api.getWfRunAlias(key, value)) == expected(key, value),
          s"thread $t: $key=$value")
      }
    }
  }

  test("a search issued after an append returns sees the appended run") {
    val (_, store) = newStore("graft-serving-alias-ryw")
    store.append(frame(snap("seed", 1, Map("who" -> Seq("nobody")))))
    val api = aliasApi(store)
    @volatile var writing = true
    concurrently(4) {
      case 0 =>
        try for (i <- 0 until 6) {
          store.append(frame(snap(s"w$i", 1, Map("who" -> Seq(s"v$i")))))
          assert(ids(api.getWfRunAlias("who", s"v$i")) == Vector(s"w$i"),
            s"search after append $i")
        } finally writing = false
      case _ =>
        // other searches keep scans in flight while the writer appends
        while (writing) api.getWfRunAlias("who", "nobody")
    }
  }

  test("a failed scan reaches every waiting search, and the next one runs") {
    val (dir, store) = newStore("graft-serving-alias-err")
    store.append(frame(snap("r1", 1, Map("who" -> Seq("x")))))
    val api = aliasApi(store)
    val format = Paths.get(dir, "_format")
    val good = Files.readAllBytes(format)
    Files.write(format, "not-this-format".getBytes(StandardCharsets.UTF_8))
    concurrently(4) { _ =>
      assertThrows[IllegalStateException](api.getWfRunAlias("who", "x"))
    }
    Files.write(format, good)
    assert(ids(api.getWfRunAlias("who", "x")) == Vector("r1"))
  }
}
