package graft

import org.apache.spark.sql.functions._

/** The cache contracts the harnesses rely on: caches tracked inside a
  * `scoped` block are gone when the block exits (no storage growth across a
  * Bench/Verify query loop), a scope cannot release another scope's
  * frames, and work forked with `forkJoin` releases with its caller's
  * scope; a `Caching.Registry` builds each key once, stays bounded, and
  * `Caching.clearAll()` releases every registry. (The `registryGet:` test
  * names pin `Registry.get`.)
  */
class CachingSpec extends SparkSuite {

  // assertions are per-frame (storageLevel), never global persisted-RDD
  // counts — other suites persist concurrently in the shared session

  test("scoped releases its tracked frames on exit") {
    import spark.implicits._
    var df: org.apache.spark.sql.DataFrame = null
    Caching.scoped {
      df = Caching.track(Seq(1, 2, 3).toDF("x").filter(col("x") > 1))
      assert(df.count() === 2)
      assert(Caching.trackedCount === 1)
      assert(df.storageLevel.useMemory)
    }
    assert(!df.storageLevel.useMemory, "scope exit must unpersist")
  }

  test("query loop does not accumulate cached partitions (Bench/Verify shape)") {
    import spark.implicits._
    val frames = (1 to 5).map { i =>
      val df = Caching.scoped {
        val d = Caching.track(Seq(i, i + 1).toDF("x"))
        d.count()
        d
      }
      Caching.releaseAll()
      df
    }
    assert(frames.forall(!_.storageLevel.useMemory))
  }

  test("an inner scope does not release the outer scope's frames") {
    import spark.implicits._
    Caching.scoped {
      val outer = Caching.track(Seq(1).toDF("x"))
      outer.count()
      Caching.scoped {
        Caching.track(Seq(2).toDF("y")).count()
      }
      assert(outer.storageLevel.useMemory, "outer frame must survive inner release")
    }
  }

  test("forkJoin: a forked task's tracked frame releases with the caller's " +
    "scope and never lands in the global one") {
    import spark.implicits._
    val globalBefore = Caching.trackedCount // outside any scope: the global scope
    var df: org.apache.spark.sql.DataFrame = null
    Caching.scoped {
      df = Caching.forkJoin(Seq(() => {
        val d = Caching.track(Seq(1, 2, 3).toDF("x"))
        d.count()
        d
      })).head
      assert(Caching.trackedCount === 1, "the task's frame belongs to the caller's scope")
      assert(df.storageLevel.useMemory)
    }
    assert(!df.storageLevel.useMemory, "scope exit must unpersist the forked task's frame")
    assert(Caching.trackedCount === globalBefore, "the global scope must not change")
  }

  test("forkJoin: results come back in task order, each task seeing the " +
    "caller's Spark local properties") {
    val sc = spark.sparkContext
    sc.setLocalProperty("graft.spec.fork", "caller")
    try {
      // later tasks finish first: the order follows the task list
      val out = Caching.forkJoin((0 until 4).map { i => () =>
        Thread.sleep((4 - i) * 60L)
        (i, sc.getLocalProperty("graft.spec.fork"))
      })
      assert(out === (0 until 4).map(i => (i, "caller")))
    } finally sc.setLocalProperty("graft.spec.fork", null)
  }

  test("forkJoin: the first failing task's own exception reaches the caller " +
    "only after every other task has finished") {
    val finished = new java.util.concurrent.atomic.AtomicInteger
    val first = new IllegalStateException("first in task order")
    val thrown = intercept[IllegalStateException] {
      Caching.forkJoin(Seq(
        () => { Thread.sleep(150); throw first },
        () => throw new IllegalStateException("fails sooner, later in task order"),
        () => { Thread.sleep(400); finished.incrementAndGet() }))
    }
    assert(thrown eq first, "rethrown unwrapped, first in task order")
    assert(finished.get === 1, "the slow task must finish before the caller sees the failure")
  }

  test("registerRdd frees a bare persisted RDD on scope exit") {
    import spark.implicits._
    val rdd = Seq(1, 2, 3).toDF("x").rdd
    rdd.persist()
    rdd.count()
    Caching.scoped {
      Caching.registerRdd(rdd)
      assert(rdd.getStorageLevel.useMemory)
    }
    assert(!rdd.getStorageLevel.useMemory, "scope exit must unpersist the RDD")
  }

  test("releaseAll drains only the global fallback scope") {
    import spark.implicits._
    Caching.scoped {
      val scopedDf = Caching.track(Seq(1).toDF("x"))
      scopedDf.count()
      Caching.releaseAll() // global scope is empty; scoped frame untouched
      assert(scopedDf.storageLevel.useMemory)
    }
  }

  test("registryGet: bounded per-map — past RegistryMaxEntries the oldest " +
    "entry is evicted and its frame unpersisted") {
    import spark.implicits._
    val reg = Caching.Registry[org.apache.spark.sql.DataFrame]("spec.cap")
    def build(i: Int) = {
      val df = Seq(i.toLong).toDF("v").persist()
      df.count()
      df
    }
    val frames = (0 to Caching.RegistryMaxEntries).map { i =>
      i -> reg.get(s"corpus$i")(build(i))
    }.toMap
    // one over the cap: corpus0 (oldest) must be gone and unpersisted
    assert(reg.size === Caching.RegistryMaxEntries)
    assert(reg.peek("corpus0").isEmpty)
    assert(frames(0).storageLevel ===
      org.apache.spark.storage.StorageLevel.NONE)
    // the survivors stay cached and hit without rebuilding
    assert(frames(Caching.RegistryMaxEntries).storageLevel.useMemory)
    var rebuilt = false
    val hit = reg.get("corpus1") { rebuilt = true; build(1) }
    assert(!rebuilt && (hit eq frames(1)))
    // a key rebuilt after an explicit clear re-enters at the queue TAIL:
    // filling the map again must evict older survivors first, not it
    reg.clear()
    val again = reg.get("corpus1")(build(1))
    (100 until 100 + Caching.RegistryMaxEntries - 1).foreach { i =>
      reg.get(s"corpus$i")(build(i))
    }
    assert(reg.peek("corpus1").isDefined)
    reg.get("one-more")(build(999))
    assert(reg.peek("corpus1").isEmpty) // now it IS the oldest
    assert(again.storageLevel === org.apache.spark.storage.StorageLevel.NONE)
    reg.clear()
  }

  test("registryGet: LRU-on-access — a hot key re-read each sweep survives " +
    "its family's colder keys cycling past the cap") {
    import spark.implicits._
    val reg = Caching.Registry[org.apache.spark.sql.DataFrame]("spec.lru")
    def build(i: Int) = {
      val df = Seq(i.toLong).toDF("v").persist()
      df.count()
      df
    }
    // fill to cap: hot is the OLDEST by build order
    reg.get("hot")(build(0))
    (1 until Caching.RegistryMaxEntries).foreach { i =>
      reg.get(s"cold$i")(build(i))
    }
    // the sweep re-reads hot (a hit) …
    var rebuilt = false
    reg.get("hot") { rebuilt = true; build(0) }
    assert(!rebuilt)
    // … then a new cold key arrives: under FIFO hot would be evicted
    // (oldest build); under LRU the least-recently-READ cold1 goes instead
    reg.get("coldNew")(build(100))
    assert(reg.peek("hot").isDefined, "LRU must keep the recently-read key")
    assert(reg.peek("cold1").isEmpty, "LRU must evict the least-recently-read key")
    reg.clear()
  }

  test("registryGet: distinct keys build CONCURRENTLY (per-key latch, " +
    "not a per-map build lock); duplicate keys still build once") {
    val reg = Caching.Registry[String]("spec.concurrent")
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    // rendezvous INSIDE the two builds: each build can only proceed once
    // BOTH are in flight — if the implementation serialized builds per
    // map, the first build would wait out the bound alone and fail. A
    // latch handshake, not a sleep window: deterministic under arbitrary
    // scheduler starvation.
    val rendezvous = new java.util.concurrent.CountDownLatch(2)
    val overlapped = new java.util.concurrent.atomic.AtomicBoolean(true)
    val start = new java.util.concurrent.CountDownLatch(1)
    def slowBuild(key: String): String = {
      builds.incrementAndGet()
      rendezvous.countDown()
      if (!rendezvous.await(30, java.util.concurrent.TimeUnit.SECONDS))
        overlapped.set(false)
      s"built:$key"
    }
    // four threads: two distinct keys, each requested twice
    val keys = Seq("kA", "kA", "kB", "kB")
    val threads = keys.map { k =>
      new Thread(() => {
        start.await()
        val v = reg.get(k)(slowBuild(k))
        assert(v === s"built:$k")
      })
    }
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join(60000))
    assert(builds.get === 2, "each distinct key must build exactly once")
    assert(overlapped.get,
      "the two distinct-key builds must overlap (no per-map build serialization)")
    reg.clear()
  }

  test("registryGet: a joiner blocked on a FAILING build retries with its " +
    "own builder and the retried value is published (no silent per-caller " +
    "rebuilds, no unpublished persisted frame)") {
    val reg = Caching.Registry[String]("spec.joiner")
    val creatorIn = new java.util.concurrent.CountDownLatch(1)
    val joinerJoined = new java.util.concurrent.CountDownLatch(1)
    val retried = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var joinerGot: String = null
    val creator = new Thread(() => {
      intercept[RuntimeException] {
        reg.get("flaky2") {
          creatorIn.countDown()
          // hold the build until the joiner is provably blocked on it
          joinerJoined.await(30, java.util.concurrent.TimeUnit.SECONDS)
          Thread.sleep(50)
          sys.error("creator boom")
        }
      }
    })
    val joiner = new Thread(() => {
      creatorIn.await()
      joinerJoined.countDown()
      joinerGot = reg.get("flaky2") {
        retried.incrementAndGet(); "joiner value"
      }
    })
    creator.start(); joiner.start()
    creator.join(60000); joiner.join(60000)
    assert(joinerGot === "joiner value")
    assert(retried.get === 1, "the joiner's own builder must run exactly once")
    // the retried value is PUBLISHED: a third lookup is a pure hit
    var rebuilt = false
    val hit = reg.get("flaky2") { rebuilt = true; "x" }
    assert(!rebuilt && hit === "joiner value")
    reg.clear()
  }

  test("registryGet: a failed build is not cached — the next caller retries") {
    val reg = Caching.Registry[String]("spec.flaky")
    var attempts = 0
    intercept[RuntimeException] {
      reg.get("flaky") { attempts += 1; sys.error("boom") }
    }
    assert(reg.peek("flaky").isEmpty)
    val v = reg.get("flaky") { attempts += 1; "ok" }
    assert(v === "ok" && attempts === 2)
    reg.clear()
  }

  test("registryGet: a FATAL build error reaches joiners WITHOUT a retry " +
    "and does not trap later callers (holder retired on the fatal path)") {
    val reg = Caching.Registry[String]("spec.fatal")
    val creatorIn = new java.util.concurrent.CountDownLatch(1)
    val joinerJoined = new java.util.concurrent.CountDownLatch(1)
    val joinerBuilt = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var creatorGot: Throwable = null
    @volatile var joinerGot: Throwable = null
    val creator = new Thread(() => {
      try reg.get("fatal1") {
        creatorIn.countDown()
        joinerJoined.await(30, java.util.concurrent.TimeUnit.SECONDS)
        Thread.sleep(50)
        throw new NoClassDefFoundError("synthetic fatal")
      } catch { case t: Throwable => creatorGot = t }
    })
    val joiner = new Thread(() => {
      creatorIn.await()
      joinerJoined.countDown()
      try reg.get("fatal1") {
        joinerBuilt.incrementAndGet(); "joiner value"
      } catch { case t: Throwable => joinerGot = t }
    })
    creator.start(); joiner.start()
    creator.join(60000); joiner.join(60000)
    assert(creatorGot.isInstanceOf[NoClassDefFoundError],
      "the creator must rethrow the fatal")
    // the joiner gets the fatal WRAPPED (ADVICE r17): the joiner's own
    // thread was neither interrupted nor OOM'd, so the creator's exact
    // exception surfacing there would misread upstream — the wrapper names
    // the condition and carries the creator's fatal as its cause
    assert(joinerGot.isInstanceOf[Caching.RegistryBuildFailed],
      "a fatal Left must reach joiners as RegistryBuildFailed — retrying " +
        "an expensive build after a VM error is how a sick JVM dies slower")
    assert(joinerGot.getCause.isInstanceOf[NoClassDefFoundError],
      "the wrapper must carry the creator's fatal as its cause")
    assert(joinerBuilt.get === 0, "the joiner's builder must NOT run")
    // the holder was retired on the fatal path: a fresh caller rebuilds
    val v = reg.get("fatal1")("recovered")
    assert(v === "recovered")
    reg.clear()
  }

  test("registryGet: an interrupted build restores the thread's interrupt " +
    "flag (the build's InterruptedException is not swallowed)") {
    val reg = Caching.Registry[String]("spec.intr1")
    @volatile var thrown: Throwable = null
    @volatile var flagRestored = false
    val t = new Thread(() => {
      try reg.get("intr1") {
        throw new InterruptedException("synthetic interrupt")
      } catch { case e: Throwable =>
        thrown = e
        flagRestored = Thread.currentThread().isInterrupted
      }
    })
    t.start(); t.join(60000)
    assert(thrown.isInstanceOf[InterruptedException])
    assert(flagRestored, "the interrupt status must survive registryGet")
    assert(reg.peek("intr1").isEmpty)
    reg.clear()
  }

  test("registryGet: a creator's interrupt reaches a JOINER wrapped, with " +
    "the joiner's own interrupt flag left clear") {
    val reg = Caching.Registry[String]("spec.intr2")
    val creatorIn = new java.util.concurrent.CountDownLatch(1)
    val joinerJoined = new java.util.concurrent.CountDownLatch(1)
    @volatile var joinerGot: Throwable = null
    @volatile var joinerFlag = true
    val creator = new Thread(() => {
      try reg.get("intr2") {
        creatorIn.countDown()
        joinerJoined.await(30, java.util.concurrent.TimeUnit.SECONDS)
        Thread.sleep(50)
        throw new InterruptedException("synthetic creator interrupt")
      } catch { case _: Throwable => () }
    })
    val joiner = new Thread(() => {
      creatorIn.await()
      joinerJoined.countDown()
      try reg.get("intr2")("joiner value")
      catch { case t: Throwable =>
        joinerGot = t
        joinerFlag = Thread.currentThread().isInterrupted
      }
    })
    creator.start(); joiner.start()
    creator.join(60000); joiner.join(60000)
    assert(joinerGot.isInstanceOf[Caching.RegistryBuildFailed],
      "the joiner must see the creator's interrupt as RegistryBuildFailed, " +
        "not as its own InterruptedException")
    assert(joinerGot.getCause.isInstanceOf[InterruptedException])
    assert(!joinerFlag,
      "the joiner's interrupt flag must stay clear — it was never interrupted")
    reg.clear()
  }

  test("registryGet: per-registry hit/miss/eviction counters account for " +
    "the traffic (the mid-sweep thrash adjudicator)") {
    import spark.implicits._
    val reg = Caching.Registry[org.apache.spark.sql.DataFrame]("spec.counters")
    def build(i: Int) = {
      val df = Seq(i.toLong).toDF("v").persist()
      df.count()
      df
    }
    (0 to Caching.RegistryMaxEntries).foreach { i => // one past cap: 1 evict
      reg.get(s"k$i")(build(i))
    }
    reg.get(s"k${Caching.RegistryMaxEntries}")(build(0)) // hit
    val line = Caching.registryStatsReport().linesIterator
      .find(_.startsWith("spec.counters")).getOrElse("")
    assert(line.contains(s"misses=${Caching.RegistryMaxEntries + 1}"), line)
    assert(line.contains("hits=1"), line)
    assert(line.contains("evictions=1"), line)
    // peek reads without counting; clear releases without counting evictions
    assert(reg.peek("k1").isDefined)
    reg.clear()
    assert(reg.stats === (("spec.counters", 1L,
      Caching.RegistryMaxEntries + 1L, 1L)))
    reg.clear()
  }

  test("registryGet: per-registry cap override — the model registry holds " +
    "a working set larger than the default cap") {
    import spark.implicits._
    val reg = Caching.Registry[org.apache.spark.sql.DataFrame](
      "spec.modelcap", Caching.ModelRegistryMaxEntries)
    def build(i: Int) = {
      val df = Seq(i.toLong).toDF("v").persist()
      df.count()
      df
    }
    val n = Caching.RegistryMaxEntries + 4 // over the default, under the model cap
    (0 until n).foreach { i =>
      reg.get(s"fit$i")(build(i))
    }
    assert(reg.size === n, "no eviction below the per-registry cap")
    var rebuilt = false
    reg.get("fit0") {
      rebuilt = true; build(0)
    }
    assert(!rebuilt, "the whole working set must stay resident")
    reg.clear()
  }

  test("clearAll empties every registry and releases the storage a PQ, a " +
    "Word2Vec and a postings face persisted") {
    val dir = SparkSpec.FixtureDir
    def persisted = spark.sparkContext.getPersistentRDDs.size
    Caching.clearAll()
    val before = persisted
    // a PQ face, a Word2Vec face and a DataFrame-registry (postings) face
    Seq("sim_ivfpq_ann", "w2v_neighbors", "search_bm25").foreach { q =>
      Caching.scoped {
        SparkEntry.queries(q)(spark, dir).write.format("noop")
          .mode("overwrite").save()
      }
      Caching.releaseAll()
    }
    val filled = Caching.allRegistries.filter(_.size > 0).map(_.name).toSet
    assert(Set("pq.codebooks", "embedders.w2v", "retrieval.postings")
      .subsetOf(filled), filled)
    assert(persisted > before, "the faces must have persisted registry storage")
    Caching.clearAll()
    Caching.allRegistries.foreach { r =>
      assert(r.size === 0, s"registry ${r.name} survived clearAll")
    }
    assert(persisted === before, "clearAll must release the faces' storage")
  }

  test("registry-served faces of the serve mix: warm output equals cold " +
    "output, cold builds at least one registry, warm builds none") {
    val dir = SparkSpec.FixtureDir
    def misses: Map[String, Long] =
      Caching.registryStatsSnapshot().map(s => s._1 -> s._3).toMap
    // one call of face q as a frame over its collected rows, and the
    // registries that missed during the call
    def run(q: String): (org.apache.spark.sql.DataFrame, Set[String]) = {
      val before = misses
      val (schema, rows) = Caching.scoped {
        val df = SparkEntry.queries(q)(spark, dir)
        (df.schema, df.collect())
      }
      Caching.releaseAll()
      val missed = misses.collect {
        case (name, m) if m > before.getOrElse(name, 0L) => name
      }.toSet
      (spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema), missed)
    }
    Seq("search_bm25", "sim_ivf_ann", "sim_ivfpq_ann", "txt_hll_distinct",
      "dedup_index_flags", "topic_ctfidf").foreach { q =>
      Caching.clearAll()
      val (cold, coldMissed) = run(q)
      val (warm, warmMissed) = run(q)
      // txt_hll_distinct is served through tables.relations alone
      assert(coldMissed.nonEmpty,
        s"$q built no registry cold: it no longer belongs in this list")
      assert(warmMissed.isEmpty, s"$q rebuilt $warmMissed warm")
      assert(cold.exceptAll(warm).isEmpty && warm.exceptAll(cold).isEmpty,
        s"$q: warm output differs from cold")
    }
    Caching.clearAll()
  }
}
