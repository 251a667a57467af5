package graft

import org.apache.spark.sql.DataFrame

/** Model-artifact export seam for the correctness gate — write-only.
  *
  * The iterative fits (LDA, KMeans, Word2Vec, the IVF quantizer) are not
  * SQL-expressible, but everything downstream of them — assignment joins,
  * the mean+2σ noise rule, centroid cosines, probe rankings — is plain
  * relational work. Persisting each seeded fit's artifacts as parquet lets
  * the DuckDB oracle re-derive that downstream independently and
  * hash-compare it, shrinking the rows-only surface to the fits alone
  * (reference consumers: /root/reference/LDA_Analysis.py:433-469,
  * /root/reference/BERTopic_Analysis.py:539-665).
  *
  * Faces only WRITE here; the oracle is the only reader. No face reads an
  * artifact back, so a face runs the same plan whether exports are on or
  * off, and the oracle verdict is about the plan that serves. A registry
  * build never saves from inside its builder: the owning function saves
  * right after the registry `get`, so a hit exports exactly as a build
  * does.
  *
  * Lifecycle: `Verify` enables exports into a sibling of its output dir
  * before running any query; each fit's owner calls `save` on every call;
  * `SparkEntry.oracleSql` (evaluated AFTER the query loop) embeds
  * `ref(...)` paths into the oracle SQL it dumps. Outside Verify (Bench,
  * specs, CLI mains) exports are disabled and `save` is a no-op — the hot
  * path never pays the write.
  */
object Artifacts {

  @volatile private var baseOpt: Option[String] = None
  private val written = Caching.Registry[String]("artifacts.written", cap = Int.MaxValue)

  // Corpus-flavor namespace: `save` is first-write-wins per name, so two
  // queries running the SAME operator against DIFFERENT corpora (the
  // realistic-twin faces vs the base fixtures) would otherwise collide —
  // whichever ran first would pin the artifact, and the oracle would
  // check the other corpus' face against it.
  private val ns = new scala.util.DynamicVariable[String]("")

  /** Run `body` with artifact names prefixed `<prefix>/` — the realistic
    * faces' writes stay in their own directory and can never shadow a
    * base face's artifact (or vice versa).
    */
  def namespaced[T](prefix: String)(body: => T): T =
    ns.withValue(prefix + "/")(body)

  private def full(name: String): String = ns.value + name

  /** The active corpus-flavor namespace ("" outside `namespaced`) — lets
    * per-corpus knob registries (SimilarityOps.dedupBits) key by flavor so
    * a realistic face's corpus-scaled parameters can't clobber the base
    * face's in the late-bound oracle dump.
    */
  def currentNamespace: String = ns.value

  /** Route subsequent `save` calls to `<base>/<name>` (fresh registry). */
  def enable(base: String): Unit = {
    written.clear()
    baseOpt = Some(base)
  }

  def disable(): Unit = {
    baseOpt = None
    written.clear()
  }

  /** Write `df` once per enable() scope (idempotent across the queries that
    * share a fit); no-op when disabled. The frame is tiny (fit-sized, not
    * corpus-sized) so a single-file write keeps the oracle read trivial.
    * Routed through the registry's build latch (r17): a plain
    * getOrElseUpdate evaluates its builder non-atomically, so two concurrent first saves of
    * one name would BOTH run the parquet write — racing overwrites of the
    * same path. Sequential harnesses never hit this; a parallel Verify will.
    */
  def save(name: String)(df: => DataFrame): Unit = baseOpt.foreach { base =>
    written.get(full(name)) {
      val path = s"$base/${full(name)}"
      df.coalesce(1).write.mode("overwrite").parquet(path)
      path
    }
    ()
  }

  /** DuckDB table expression for a saved artifact. Only resolves after the
    * owning query ran (Verify dumps oracle SQL after the query loop); an
    * unresolved ref yields SQL that fails loudly instead of silently
    * comparing against the wrong table. Routed through `full(name)` like
    * save, so a ref evaluated inside a `namespaced` scope resolves the
    * same artifact the scope's save wrote (Verify's oracle dump runs in
    * the root namespace, so base-face refs are unchanged).
    */
  def ref(name: String): String =
    written.peek(full(name))
      .map(path => s"read_parquet('$path/*.parquet')")
      .getOrElse(s"artifact_not_materialized_${full(name)}")
}
