package graft

import org.apache.spark.sql.{DataFrame, Dataset}

/** The engine's two cache lifetimes: query-scoped persists and build-once
  * registries.
  *
  * Query-scoped persists. Operators persist intermediates that feed
  * several consumers inside ONE query (LSH signature tables,
  * term-frequency scans, presence sets). Those caches are dead the moment
  * the query's sink materializes, but a bare `.persist()` has no owner who
  * can safely release it — so in a long-lived session (the Bench/Verify
  * runs, or a warehouse service) executor storage grows monotonically.
  * Operators register such caches via `track`; harnesses (Bench, Verify,
  * AnalysisRunner callers) wrap each query in `scoped { … }` — frames
  * tracked on the calling thread inside the block are unpersisted when the
  * block exits, so one query's release can never evict another in-flight
  * query's caches in a concurrent service. Work forked with `forkJoin`
  * runs under the forking thread's scope, so its frames release with the
  * caller's. Frames tracked on threads that outlive any scope (a service's
  * pool workers, code outside every `scoped` block) fall back to the
  * process-global scope; sequential harnesses drain that with
  * `releaseAll()` after each query.
  *
  * Build-once registries. Deterministic fits and stored-index shapes
  * (fitted topic models, postings, signature tables, IVF/PQ worlds, …)
  * outlive queries: each lives in a named `Registry`, keyed by corpus
  * fingerprint, built once per key per session and served to every later
  * consumer. A registry owns its entries, their LRU order, its in-flight
  * build latches and its hit/miss/eviction counters, and registers itself
  * at construction — so `clearAll()` is the one teardown that releases
  * every registry's storage (Bench and Verify call it at exit), and
  * `registryStatsSnapshot()` reads every registry's counters.
  */
object Caching {

  /** Thrown to a JOINER whose creator died with a fatal VM error or an
    * interrupt: the creator's exception belongs to the creator's thread
    * (its interrupt flag, its OOM), and rethrowing it verbatim in a
    * joiner whose own flag is clear misleads upstream interrupt/fatal
    * handlers. NonFatal creator errors still propagate unwrapped (after
    * the joiner's own retry) — only the fatal taxonomy wraps.
    */
  final class RegistryBuildFailed(key: String, cause: Throwable)
    extends RuntimeException(
      s"registry build for key '$key' failed fatally in its creator thread",
      cause)

  private final class Scope {
    val releases = scala.collection.mutable.ArrayBuffer.empty[() => Unit]
    def add(r: () => Unit): Unit = synchronized { releases += r }
    def release(): Unit = synchronized {
      releases.foreach(r => r())
      releases.clear()
    }
    def size: Int = synchronized(releases.size)
  }

  private val global = new Scope
  // DynamicVariable = per-thread scope stack; threads a pool created before
  // a scope opened resolve to `global`.
  private val current = new scala.util.DynamicVariable[Scope](global)

  /** Persist `df` and register it with the active scope. */
  def track(df: DataFrame): DataFrame = {
    df.persist()
    current.value.add(() => df.unpersist(false))
    df
  }

  /** Register an already-persisted frame with the active scope. */
  def register(df: DataFrame): DataFrame = {
    current.value.add(() => df.unpersist(false))
    df
  }

  /** Register an already-persisted bare RDD with the active scope — for
    * frames whose storage lives outside the SQL cache manager (the
    * lineage-broken label rounds in DedupOps.propagateLabelsTracked).
    */
  def registerRdd(rdd: org.apache.spark.rdd.RDD[_]): Unit =
    current.value.add(() => { rdd.unpersist(false); () })

  /** Run `body` in a fresh cache scope; everything tracked on this thread
    * inside it is unpersisted (non-blocking) when the block exits.
    */
  def scoped[T](body: => T): T = {
    val s = new Scope
    try current.withValue(s)(body)
    finally s.release()
  }

  /** Run independent `tasks` concurrently and return their results in task
    * order — the engine's one idiom for overlapping Spark actions that the
    * driver would otherwise issue one after another.
    *
    * Each task runs on a short-lived thread of its own, so nested use never
    * waits on a shared pool. The thread runs under the caller's cache scope
    * (frames it tracks release with the caller's `scoped` block) and
    * inherits the caller's Spark local properties and active session. There
    * is no parallelism knob: Spark's scheduler already bounds the running
    * tasks by the cores.
    *
    * Waits for every task, even after one fails, then rethrows the first
    * failure in task order, unwrapped — so no forked action is still
    * running when this returns or rethrows a task's failure.
    */
  def forkJoin[T](tasks: Seq[() => T]): Seq[T] = {
    val scope = current.value
    val results = new Array[Either[Throwable, T]](tasks.size)
    // constructed on the caller's thread: that is where a Thread copies its
    // inheritable thread-locals (Spark's local properties, active session)
    val threads = tasks.zipWithIndex.map { case (task, i) =>
      new Thread(() => {
        results(i) =
          try Right(current.withValue(scope)(task()))
          catch { case e: Throwable => Left(e) }
      }, s"graft-fork-$i")
    }
    threads.foreach(_.start())
    threads.foreach(_.join()) // join = happens-before: `results` is visible
    results.toSeq.map(_.fold(e => throw e, identity))
  }

  /** Unpersist every frame in the process-global scope — the catch-all for
    * frames tracked outside any `scoped` block (or on pool threads created
    * before one opened). Sequential harnesses call this between queries.
    */
  def releaseAll(): Unit = global.release()

  /** Frames currently tracked in the active scope (spec surface). */
  def trackedCount: Int = current.value.size

  /** Best-effort storage release for a registry value: Datasets (and
    * Dataset members of Products — BigramLm, StandingQueries, (index,
    * cut) tuples) are unpersisted. LIMITATION (documented, ADVICE r16):
    * fitted ML model values (the TopicModelOps registry) expose no uniform
    * handle to the RDDs/datasets they pin internally (e.g.
    * DistributedLDAModel's graph), so an evicted model's internal storage
    * is NOT reclaimed here — dropping the reference lets GC +
    * ContextCleaner reap it, and model registries' caps exist to bound the
    * MAP, not the executor store. A corpus-cycling service wanting eager
    * reclamation should register model values wrapped in a Product
    * carrying their persisted frames.
    */
  private def releaseValue(v: Any): Unit = v match {
    case ds: Dataset[_] => ds.unpersist(false)
    case p: Product => p.productIterator.foreach {
      case ds: Dataset[_] => ds.unpersist(false)
      case _ => ()
    }
    case _ => ()
  }

  /** Default per-registry entry cap. */
  val RegistryMaxEntries = 8

  /** Cap for fitted-model registries (TopicModelOps): the per-corpus
    * working set is ≥ 9 keys (base LDA + topics-frame + 4 grid fits +
    * KMeans + noise + example/reduce variants), and a bench session runs
    * two corpora (base + realistic twin) — 32 holds both with headroom
    * while still bounding a corpus-cycling service.
    */
  val ModelRegistryMaxEntries = 32

  /** Every registry constructed in this JVM, in construction order. */
  private val registries = new java.util.concurrent.CopyOnWriteArrayList[Registry[_]]

  object Registry {
    def apply[V](name: String, cap: Int = RegistryMaxEntries): Registry[V] =
      new Registry[V](name, cap)

    /** Joiner retry bound: a joiner that finds the creator failed becomes
      * the next creator AT MOST this many times before propagating the
      * last error. Without a bound, N concurrent callers on a persistently
      * failing hot key run N sequential full builds (ADVICE r16); with it,
      * the worst case is `JoinerRetryBound + 1` builds per caller, after
      * which the caller sees the creator's error.
      */
    val JoinerRetryBound = 1
  }

  /** A named build-once registry: `get` returns the value under `key`,
    * building it at most once per key while it stays resident.
    * A plain `getOrElseUpdate` evaluates its builder non-atomically — two
    * concurrent first calls both run the (expensive) fit and both persist,
    * and the losing frame's storage leaks until JVM exit because only the
    * cached winner is released at teardown. Every cross-query cache (NLL
    * scores, media corpus, dedup labels, postings, BPE merges, fitted
    * topic models, …) is one of these.
    *
    * Concurrency: hits and build bookkeeping take this registry's monitor
    * briefly (never across a build). Duplicate keys build once (joiners
    * block on the creator's latch), but DISTINCT keys build concurrently.
    * This preserves the grid-search "embarrassingly parallel across k"
    * property (the four forked tasks in TopicModelOps.ldaGridSearch fit
    * different k keys at the same time).
    *
    * Bounded by construction: the registry holds at most `cap` entries —
    * inserting past the cap evicts the LEAST-RECENTLY-ACCESSED entry and
    * releases its storage (`releaseValue`). LRU-on-access, not
    * FIFO-by-build: a hot key re-read every harness sweep (the 5:20 LDA
    * fit that lda_topic_coherence reuses) cannot be evicted by its own
    * family's colder keys cycling through. Registries whose per-corpus
    * working set exceeds the default (the topic-model registry holds the
    * base fit + the k-grid + KMeans variants ≥ 9 keys per corpus) pass a
    * larger `cap`. The cap is the ceiling that keeps a long-lived SERVICE
    * cycling many corpus versions from accumulating unbounded executor
    * storage between explicit clears (spec-pinned in CachingSpec).
    *
    * Eviction assumes no in-flight consumers of the victim: the victim
    * frame is unpersisted immediately, so a concurrent query still
    * executing against it (or a caller-held reference) silently falls
    * back to recomputing from lineage — correct but uncached. Harness
    * sessions are sequential per registry family, so this never bites;
    * a concurrent service wanting stronger guarantees should size `cap`
    * above its live working set.
    *
    * Counters: hits, misses (= builds run) and evictions (= LRU victims
    * released; `clear()` counts none) — the adjudication tool for "did
    * the LRU evict a hot entry mid-sweep".
    */
  final class Registry[V](val name: String, cap: Int = RegistryMaxEntries) {
    // insertion-ordered; a hit re-inserts its key, so the head is always
    // the least-recently-accessed entry. Entries and holders share this
    // registry's monitor.
    private val entries = scala.collection.mutable.LinkedHashMap.empty[String, V]
    private val holders = scala.collection.mutable.HashMap.empty[String, Holder]
    private val hits = new java.util.concurrent.atomic.AtomicLong
    private val misses = new java.util.concurrent.atomic.AtomicLong
    private val evictions = new java.util.concurrent.atomic.AtomicLong
    registries.add(this)

    def get(key: String)(build: => V): V =
      attempt(key, Registry.JoinerRetryBound)(build)

    /** The value under `key` if built — no build, no counters, no LRU
      * touch (for readers that only ask what exists, e.g. Artifacts.path).
      */
    def peek(key: String): Option[V] = synchronized(entries.get(key))

    def size: Int = synchronized(entries.size)

    /** Release every value and forget every key (counts no evictions).
      * In-flight builds still publish when they finish.
      */
    def clear(): Unit = synchronized {
      entries.values.foreach(releaseValue)
      entries.clear()
    }

    /** (name, hits, misses, evictions). */
    def stats: (String, Long, Long, Long) =
      (name, hits.get, misses.get, evictions.get)

    private[Caching] def resetStats(): Unit = {
      hits.set(0); misses.set(0); evictions.set(0)
    }

    // One holder per in-flight build. The creator alone runs `compute`;
    // joiners block in `await`. An explicit latch, NOT a lazy val: a lazy
    // val that fails re-runs its (captured) thunk in whichever blocked
    // thread touches it next — that thread's retry result would never be
    // published (it isn't the creator), leaking its persisted frame and
    // silently rebuilding per caller. With the latch, a failed build wakes
    // the joiners with the error and they retry the whole lookup with
    // their OWN builder (one of them becomes the new creator).
    //
    // Failure taxonomy (ADVICE r16): only NonFatal errors take the Left
    // path — joiners treating an OutOfMemoryError as a retriable miss
    // would re-run the expensive build under a condition the JVM may not
    // survive. Fatal throwables still PUBLISH a Left first (the latch must
    // open or joiners hang forever) and then rethrow in the creator's
    // thread; an interrupt publishes, restores the thread's interrupt
    // flag, and propagates.
    private final class Holder(thunk: () => V) {
      private val done = new java.util.concurrent.CountDownLatch(1)
      @volatile private var result: Either[Throwable, V] = _
      def compute(): Either[Throwable, V] = {
        val r = try Right(thunk()) catch {
          case e: InterruptedException =>
            Thread.currentThread().interrupt()
            Left(e)
          case scala.util.control.NonFatal(e) => Left(e)
          case fatal: Throwable =>
            result = Left(fatal)
            done.countDown()
            throw fatal
        }
        result = r
        done.countDown()
        r
      }
      def await(): Either[Throwable, V] = { done.await(); result }
    }

    // Under the monitor: the value under `key`, moved to the
    // most-recently-accessed end.
    private def touch(key: String): Option[V] =
      entries.remove(key).map { v => entries(key) = v; v }

    private def hit(v: V): V = { hits.incrementAndGet(); v }

    private def attempt(key: String, retriesLeft: Int)(build: => V): V = {
      // Resolve under the monitor: a hit, or join/create the key's holder.
      // The build itself runs OUTSIDE the monitor.
      val resolved: Either[V, (Holder, Boolean)] = synchronized {
        touch(key) match {
          case Some(v) => Left(v)
          case None => holders.get(key) match {
            case Some(existing) => Right((existing, false))
            case None =>
              val nh = new Holder(() => build)
              holders(key) = nh
              Right((nh, true))
          }
        }
      }
      resolved match {
        case Left(v) => hit(v)
        case Right((h, true)) => create(key, h)
        case Right((h, false)) => join(key, h, retriesLeft)(build)
      }
    }

    // Creator: run the build, publish BEFORE retiring the holder (so no
    // other caller can miss and start a second build of a value that
    // already exists), drop the holder on failure so the next caller
    // retries. A FATAL throwable escapes compute() after publishing its
    // Left (joiners must wake) — retire the holder on that path too, or
    // every later caller would join a dead latch and fail instantly.
    private def create(key: String, h: Holder): V = {
      misses.incrementAndGet()
      val r = try h.compute() catch { case fatal: Throwable =>
        retire(key, h)
        throw fatal
      }
      synchronized {
        r.foreach { v =>
          entries(key) = v
          while (entries.size > cap) {
            val (victim, old) = entries.head
            entries.remove(victim)
            evictions.incrementAndGet()
            releaseValue(old)
          }
        }
        retire(key, h)
      }
      r.fold(e => throw e, identity)
    }

    private def retire(key: String, h: Holder): Unit = synchronized {
      if (holders.get(key).exists(_ eq h)) holders.remove(key)
    }

    // Joiner: duplicate keys block here; distinct keys overlap. If the
    // creator failed with a RETRIABLE (NonFatal) error, retry the whole
    // lookup with OUR builder — never re-run the dead holder's thunk — at
    // most JoinerRetryBound times, then propagate. Fatal Lefts (VM
    // errors, interrupts) propagate immediately: re-running an expensive
    // build after an OOM is how a sick JVM dies slower.
    private def join(key: String, h: Holder, retriesLeft: Int)(build: => V): V =
      h.await() match {
        case Right(v) =>
          synchronized(touch(key))
          hit(v)
        case Left(e) if retriesLeft > 0 && scala.util.control.NonFatal(e) =>
          attempt(key, retriesLeft - 1)(build)
        case Left(e) if scala.util.control.NonFatal(e) => throw e
        case Left(e) =>
          // the CREATOR died fatally or was interrupted — this joiner
          // thread was neither, so rethrowing the creator's exception
          // verbatim here would misread upstream (an InterruptedException
          // surfacing in a thread whose interrupt flag is clear; ADVICE
          // r17). Wrap it so the joiner's stack says what actually happened.
          throw new RegistryBuildFailed(key, e)
      }
  }

  /** Every registry constructed so far (spec + monitoring surface). */
  private[graft] def allRegistries: Seq[Registry[_]] = {
    import scala.jdk.CollectionConverters._
    registries.asScala.toSeq
  }

  /** Release every registry's values — the one harness teardown. */
  def clearAll(): Unit = registries.forEach(_.clear())

  /** Structured per-registry counters (name, hits, misses, evictions),
    * sorted by name: the form a harness diffs around a timed window
    * (perfbench's `caching.*` layer metrics are such deltas).
    */
  def registryStatsSnapshot(): Seq[(String, Long, Long, Long)] =
    allRegistries.map(_.stats).sortBy(_._1)

  /** One line per registry: name hits/misses/evictions. A hot face whose
    * registry shows evictions > 0 mid-sweep is thrashing its cap.
    */
  def registryStatsReport(): String =
    registryStatsSnapshot()
      .map { case (name, h, m, e) =>
        s"$name hits=$h misses=$m evictions=$e" }
      .mkString("\n")

  /** Zero every counter (tool runs that want per-phase deltas). */
  def resetRegistryStats(): Unit = registries.forEach(_.resetStats())
}
