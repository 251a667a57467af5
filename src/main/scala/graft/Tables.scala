package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftBridge
import org.apache.spark.sql.types._

/** Parquet table loaders over a driver fixture dir (`/root/testdata/sf*`).
  *
  * All operators take a DataFrame in, so these are the only place that knows
  * file layout. At cluster scale the same operators run over partitioned
  * warehouse tables — the loaders would swap for `spark.table(...)` without
  * touching any operator code.
  *
  * Every known table is loaded through a SCHEMA CONTRACT: required columns
  * must exist with a compatible type class, timestamp columns adapt across
  * the physical layouts the fixtures have actually shipped in, and any other
  * drift fails loudly with a diagnostic naming the missing/mismatched
  * columns — the same guard the reference applies before every analysis run
  * (/root/reference/LDA_Analysis.py:122-126,
  * /root/reference/BERTopic_Analysis.py:146-149). The round-7 fixture regen
  * flipped `events.ts` from TIMESTAMP(NANOS) to TIMESTAMP(MICROS) and
  * SILENTLY took six queries off the correctness board; this contract turns
  * that failure class into either a transparent adaptation or a named error.
  */
object Tables {

  private val log = org.slf4j.LoggerFactory.getLogger("graft.Tables")

  /** Type classes a contract column may require. Integral/floating widths
    * are accepted as-is (a regen flipping int32→int64 is benign: the oracle
    * reads the same file, so both sides move together); timestamps are
    * NORMALIZED because Spark and DuckDB diverge on physical timestamp
    * layouts — exactly where round 7 lost correctness silently.
    */
  private sealed trait Kind
  private case object Integral extends Kind // int32 / int64 / int16, as-is
  private case object Floating extends Kind // float / double, as-is
  private case object Str extends Kind
  private case object TsNtz extends Kind // wall-clock timestamp → timestamp_ntz
  private case object TsLtz extends Kind // instant timestamp → timestamp (LTZ)
  private case object VecF extends Kind // array<float|double>

  /** Required columns per fixture table (TESTDATA.md). Extra columns pass
    * through untouched; missing or type-incompatible ones fail loudly.
    */
  private val Expected: Map[String, Seq[(String, Kind)]] = Map(
    "lineitem" -> Seq(
      "l_orderkey" -> Integral, "l_partkey" -> Integral,
      "l_suppkey" -> Integral, "l_linenumber" -> Integral,
      "l_quantity" -> Floating, "l_extendedprice" -> Floating,
      "l_discount" -> Floating, "l_tax" -> Floating,
      "l_returnflag" -> Str, "l_linestatus" -> Str, "l_shipdate" -> TsNtz),
    "orders" -> Seq(
      "o_orderkey" -> Integral, "o_custkey" -> Integral,
      "o_orderstatus" -> Str, "o_totalprice" -> Floating,
      "o_orderdate" -> TsNtz, "o_orderpriority" -> Str),
    "customer" -> Seq(
      "c_custkey" -> Integral, "c_name" -> Str, "c_nationkey" -> Integral,
      "c_acctbal" -> Floating, "c_mktsegment" -> Str),
    "supplier" -> Seq(
      "s_suppkey" -> Integral, "s_name" -> Str, "s_nationkey" -> Integral,
      "s_acctbal" -> Floating),
    "part" -> Seq(
      "p_partkey" -> Integral, "p_name" -> Str, "p_brand" -> Str,
      "p_type" -> Str, "p_size" -> Integral, "p_retailprice" -> Floating),
    "nation" -> Seq(
      "n_nationkey" -> Integral, "n_name" -> Str, "n_regionkey" -> Integral),
    "region" -> Seq("r_regionkey" -> Integral, "r_name" -> Str),
    "events" -> Seq(
      "event_id" -> Integral, "ts" -> TsLtz, "user_id" -> Integral,
      "event_type" -> Str, "value" -> Floating, "props" -> Str),
    "documents" -> Seq(
      "doc_id" -> Integral, "text" -> Str, "lang" -> Str, "source" -> Str,
      "n_chars" -> Integral),
    "embeddings" -> Seq(
      "vec_id" -> Integral, "embedding" -> VecF, "label" -> Integral))

  /** Plausible epoch-NANOS window: [1990-01-01, 2100-01-01) — wide enough
    * for the TPC-H-ish order/ship dates (1995-2001 in the fixtures). An
    * INT64 timestamp column is only ever nanos (the legacy TIMESTAMP(NANOS)
    * layout); a future regen shipping plain epoch-MICROS as INT64 would land
    * ~1000× below this window — refuse to guess the unit instead of
    * silently producing timestamps a millennium early (ADVICE r8).
    */
  private val MinPlausibleNanos = 631152000000000000L
  private val MaxPlausibleNanos = 4102444800000000000L

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // The contract's timestamp adaptations (NTZ<->LTZ relabel, nanos->LTZ
    // cast) are only wall-clock-preserving under a UTC session. Every
    // committed main pins UTC; an unpinned entry point (interactive
    // spark-shell, a future main) would silently shift event timestamps —
    // the exact failure class this contract exists to prevent — so refuse
    // loudly instead (ADVICE r9).
    val tz = spark.conf.get("spark.sql.session.timeZone")
    if (tz != "UTC")
      throw new IllegalStateException(
        s"[graft.Tables] spark.sql.session.timeZone is '$tz'; the fixture " +
          "contract's timestamp relabels are only wall-clock-preserving " +
          "under UTC. Pin .config(\"spark.sql.session.timeZone\", \"UTC\") " +
          "on the session (every graft main does).")
    // TIMESTAMP(NANOS) parquet is rejected by the vectorized reader unless
    // read as raw longs; set it for every table so a NANOS regen of any
    // fixture reaches the contract (which then adapts) instead of crashing.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    relations.get(
        s"${GraftBridge.sessionId(spark)}|${Fingerprint.dirKey(spark, dir)}|$name") {
      val path = s"$dir/$name.parquet"
      val raw = spark.read.parquet(path)
      Expected.get(name).fold(raw)(conform(raw, name, path, _))
    }
  }

  /** Entries of `relations`: every table of several corpus versions (the
    * fixture, its realistic twin and a few spec or bench versions) at
    * about ten tables each.
    */
  private val RelationsMaxEntries = 64

  /** The conformed (unpersisted) relation per (session, corpus version,
    * table). A warm face reuses its file index and resolved schema instead
    * of re-listing the table, re-reading a footer and running a
    * schema-inference job on every load. The key's `Fingerprint.dirKey`
    * moves on any in-place rewrite of the directory, so the next load reads
    * the new files; a contract failure throws and is not cached.
    */
  private val relations =
    Caching.Registry[DataFrame]("tables.relations", RelationsMaxEntries)

  /** Validate `df` against the table contract; adapt timestamp layouts,
    * fail loudly (naming the columns) on anything else.
    */
  private def conform(df: DataFrame, table: String, path: String,
                      contract: Seq[(String, Kind)]): DataFrame = {
    val fields = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val missing = contract.map(_._1).filterNot(fields.contains)
    if (missing.nonEmpty) {
      // A missing required column PLUS an unexpected extra column of the
      // same type class is the signature of a RENAME — name the candidate
      // so the diagnostic is actionable (round-7 failure class: "missing
      // column" alone sends the reader diffing parquet footers).
      val extras = df.schema.fields
        .filterNot(f => contract.exists(_._1 == f.name))
      val kinds = contract.toMap
      val hints = missing.flatMap { m =>
        val cands = extras.filter(e => kindCompatible(kinds(m), e.dataType))
        if (cands.nonEmpty)
          Some(s"'$m' <- likely renamed from ${cands.map(c =>
            s"'${c.name}' (${c.dataType.simpleString})").mkString(" or ")}")
        else None
      }
      val hintMsg =
        if (hints.nonEmpty) hints.mkString(" Possible rename(s): ", "; ", ".")
        else ""
      throw new IllegalArgumentException(
        s"[graft.Tables] fixture table '$table' ($path) is missing required " +
          s"column(s) ${missing.mkString("[", ", ", "]")}; available columns: " +
          s"${df.schema.fieldNames.mkString("[", ", ", "]")}. The fixture " +
          "layout has drifted — regenerate the fixture or update the " +
          "contract." + hintMsg)
    }
    def mismatch(cname: String, dt: DataType, want: String): Nothing =
      throw new IllegalArgumentException(
        s"[graft.Tables] fixture table '$table' ($path): column '$cname' has " +
          s"type ${dt.simpleString}; expected $want. Refusing to load a " +
          "drifted layout silently.")
    contract.foldLeft(df) { case (acc, (cname, kind)) =>
      val dt = fields(cname)
      kind match {
        case Integral => dt match {
          case ShortType | IntegerType | LongType => acc
          case other => mismatch(cname, other, "an integral type (int32/int64)")
        }
        case Floating => dt match {
          case FloatType | DoubleType => acc
          case other => mismatch(cname, other, "a floating type (float/double)")
        }
        case Str => dt match {
          case StringType => acc
          case other => mismatch(cname, other, "string")
        }
        case VecF => dt match {
          case ArrayType(FloatType | DoubleType, _) => acc
          case other => mismatch(cname, other, "array<float|double>")
        }
        case TsNtz | TsLtz =>
          val target: DataType =
            if (kind == TsLtz) TimestampType else TimestampNTZType
          dt match {
            case LongType =>
              log.warn(s"[graft.Tables] $table.$cname: INT64 layout — " +
                "treating as legacy epoch-NANOS, truncating to micros " +
                "(out-of-window values raise)")
              acc.withColumn(cname, nanosGuarded(table, cname, target))
            case `target` => acc
            case TimestampType | TimestampNTZType =>
              // Opposite timestamp flavor: the session timezone is pinned
              // UTC, so the cast is a pure relabel with identical wall-clock
              // values (and matches DuckDB's naive epoch_us reading).
              log.warn(s"[graft.Tables] $table.$cname: ${dt.simpleString} " +
                s"relabeled as ${target.simpleString} (UTC session — " +
                "wall-clock preserving)")
              acc.withColumn(cname, col(cname).cast(target))
            case other => mismatch(cname, other,
              "a timestamp-class type (timestamp / timestamp_ntz / " +
                "int64 epoch-nanos)")
          }
      }
    }
  }

  /** Whether a physical type satisfies a contract kind — the same acceptance
    * rules `conform` applies, reused by the rename-hint diagnostic.
    */
  private def kindCompatible(kind: Kind, dt: DataType): Boolean = kind match {
    case Integral => dt match {
      case ShortType | IntegerType | LongType => true; case _ => false
    }
    case Floating => dt match {
      case FloatType | DoubleType => true; case _ => false
    }
    case Str => dt == StringType
    case VecF => dt match {
      case ArrayType(FloatType | DoubleType, _) => true; case _ => false
    }
    case TsNtz | TsLtz => dt match {
      case LongType | TimestampType | TimestampNTZType => true; case _ => false
    }
  }

  /** Legacy TIMESTAMP(NANOS)-as-long → micros truncation (matching DuckDB's
    * epoch_us), with a per-row unit guard: values outside the plausible
    * nanos window raise instead of silently shifting ~1000×.
    */
  private def nanosGuarded(table: String, cname: String,
                           target: DataType): Column = {
    val c = col(cname)
    // integer `div`: a double division loses precision above 2^53 — every
    // epoch-nanos value is above it
    val asMicros = expr(s"`$cname` div 1000")
    when(c.isNotNull && (c < MinPlausibleNanos || c >= MaxPlausibleNanos),
      raise_error(concat(
        lit(s"[graft.Tables] $table.$cname: INT64 value "), c.cast("string"),
        lit(" is outside the plausible epoch-nanos window [1990-01-01, " +
          "2100-01-01) — a different unit (micros/millis) shipped as INT64? " +
          "Refusing to guess."))))
      .otherwise(timestamp_micros(asMicros).cast(target))
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  /** The events fixture has shipped in two layouts: TIMESTAMP(NANOS) parquet
    * (read as nanos-long, truncated to micros) and native TIMESTAMP(MICROS)
    * (relabeled NTZ→LTZ under the UTC session). Both normalize to an LTZ
    * `ts` via the `events` contract; downstream operators use
    * unix_micros/window which require LTZ.
    */
  def events(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "events")
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
