package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Fixture-loader contract tests.
  *
  * The events fixture has shipped in two physical layouts across driver
  * rounds — TIMESTAMP(NANOS) (which Spark reads as long under `nanosAsLong`)
  * and native TIMESTAMP(MICROS) (which Spark reads as TIMESTAMP_NTZ).
  * `Tables.events` must adapt on the observed type and surface the SAME LTZ
  * micros either way; round 7's fixture flip took six queries offline
  * because the loader assumed the nanos layout. These specs pin BOTH
  * layouts, pin the live fixture layout of EVERY table, and pin that
  * perturbed layouts fail with a diagnostic naming the drifted column — not
  * silently wrong results.
  */
class TablesSpec extends SparkSuite {
  private def tempDir(): String = {
    val dir = Files.createTempDirectory("tables-spec").toFile
    dir.deleteOnExit()
    dir.toString
  }

  private def writeAndLoad(writer: String => Unit): org.apache.spark.sql.DataFrame = {
    val dir = tempDir()
    writer(s"$dir/events.parquet")
    Tables.events(spark, dir)
  }

  // one instant, expressed in each layout's physical type
  private val micros = 1704067200123456L // 2024-01-01 00:00:00.123456 UTC

  // Spark cannot WRITE TIMESTAMP(NANOS) parquet, so this test emulates the
  // legacy layout with a plain INT64 column, exercising the post-read
  // LongType contract branch (nanos→micros truncation + unit guard); the
  // checked-in pyarrow NANOS fixture below covers the physical
  // `nanosAsLong` decode itself (closes the ADVICE r8 coverage gap).
  test("events: legacy nanos-as-long layout truncates to LTZ micros") {
    import spark.implicits._
    val ts = writeAndLoad { path =>
      Seq((1L, micros * 1000L + 789L, 7L, "click", 1.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.parquet(path)
    }
    assert(ts.schema("ts").dataType == TimestampType)
    assert(ts.select(unix_micros(col("ts"))).head.getLong(0) == micros)
  }

  test("events: a REAL TIMESTAMP(NANOS) parquet file decodes through nanosAsLong") {
    // checked-in pyarrow-written fixture (Spark cannot write NANOS parquet):
    // exercises the actual physical decode path the emulated INT64 tests
    // cannot — a Spark upgrade changing nanosAsLong behavior fails HERE
    val ts = Tables.events(spark, "src/test/resources/events_nanos")
    assert(ts.schema("ts").dataType == TimestampType)
    assert(ts.select(unix_micros(col("ts"))).head.getLong(0) == micros)
  }

  test("events: native timestamp layout relabels NTZ as LTZ unchanged") {
    import spark.implicits._
    val ts = writeAndLoad { path =>
      Seq((1L, 7L, "click", 1.0, "{}"))
        .toDF("event_id", "user_id", "event_type", "value", "props")
        .withColumn("ts", timestamp_micros(lit(micros)).cast(TimestampNTZType))
        .write.parquet(path)
    }
    assert(ts.schema("ts").dataType == TimestampType)
    assert(ts.select(unix_micros(col("ts"))).head.getLong(0) == micros)
  }

  test("events: INT64 ts outside the nanos window raises instead of guessing") {
    import spark.implicits._
    // epoch-MICROS shipped as INT64: ~1000x below the plausible nanos window
    val ts = writeAndLoad { path =>
      Seq((1L, micros, 7L, "click", 1.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.parquet(path)
    }
    val e = intercept[Exception] { ts.select(col("ts")).collect() }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("epoch-nanos window")),
      s"expected the unit-guard diagnostic, got: ${e.getMessage}")
  }

  test("orders: legacy nanos-as-long o_orderdate adapts to NTZ wall-clock") {
    import spark.implicits._
    val dir = tempDir()
    // the TPC-H-ish fixture dates reach back to 1995 — the unit-guard
    // window must accept them (it starts at 1990, not 2000)
    val micros95 = 789264000000000L // 1995-01-05 00:00:00 UTC
    Seq(
      (1L, 7L, "O", 100.0, micros * 1000L + 789L, "1-URGENT"),
      (2L, 8L, "F", 200.0, micros95 * 1000L, "2-HIGH"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.parquet(s"$dir/orders.parquet")
    val o = Tables.orders(spark, dir)
    assert(o.schema("o_orderdate").dataType == TimestampNTZType)
    // NTZ wall-clock under the UTC session == the instant's epoch micros
    val byKey = o.select(col("o_orderkey"),
        unix_micros(col("o_orderdate").cast(TimestampType)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byKey(1L) == micros && byKey(2L) == micros95)
  }

  test("missing required column fails with a diagnostic naming it") {
    import spark.implicits._
    val dir = tempDir()
    Seq((1L, "Customer#1", 7, "BUILDING")) // c_acctbal absent
      .toDF("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
      .write.parquet(s"$dir/customer.parquet")
    val e = intercept[IllegalArgumentException] { Tables.customer(spark, dir) }
    assert(e.getMessage.contains("missing required column(s) [c_acctbal]"))
    assert(e.getMessage.contains("'customer'"))
  }

  test("type-class drift fails with a diagnostic naming the column") {
    import spark.implicits._
    val dir = tempDir()
    Seq((1L, "text", "en", "web", "not-a-number")) // n_chars as string
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val e = intercept[IllegalArgumentException] { Tables.documents(spark, dir) }
    assert(e.getMessage.contains("'n_chars'"))
    assert(e.getMessage.contains("expected an integral type"))
  }

  test("missing column + same-type-class extra is flagged as a likely rename") {
    import spark.implicits._
    val dir = tempDir()
    // c_acctbal (Floating) renamed to c_balance: the diagnostic should name
    // the candidate instead of leaving the reader diffing parquet footers
    Seq((1L, "Customer#1", 7, 12.5, "BUILDING"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_balance", "c_mktsegment")
      .write.parquet(s"$dir/customer.parquet")
    val e = intercept[IllegalArgumentException] { Tables.customer(spark, dir) }
    assert(e.getMessage.contains("missing required column(s) [c_acctbal]"))
    assert(e.getMessage.contains("likely renamed from 'c_balance' (double)"),
      s"expected a rename hint, got: ${e.getMessage}")
  }

  test("rename hint only suggests type-compatible extras") {
    import spark.implicits._
    val dir = tempDir()
    // extra column exists but is a string — no hint for the Floating miss
    Seq((1L, "Customer#1", 7, "extra", "BUILDING"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_note", "c_mktsegment")
      .write.parquet(s"$dir/customer.parquet")
    val e = intercept[IllegalArgumentException] { Tables.customer(spark, dir) }
    assert(e.getMessage.contains("missing required column(s) [c_acctbal]"))
    assert(!e.getMessage.contains("likely renamed"),
      s"string extra must not be suggested for a floating column: ${e.getMessage}")
  }

  test("load refuses a non-UTC session (timestamp relabels would shift)") {
    val before = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "Asia/Seoul")
      val e = intercept[IllegalStateException] {
        Tables.region(spark, SparkSpec.FixtureDir)
      }
      assert(e.getMessage.contains("Asia/Seoul"))
      assert(e.getMessage.contains("UTC"))
    } finally spark.conf.set("spark.sql.session.timeZone", before)
  }

  test("extra columns pass through untouched") {
    import spark.implicits._
    val dir = tempDir()
    Seq((0, "AFRICA", "yes")).toDF("r_regionkey", "r_name", "r_extra")
      .write.parquet(s"$dir/region.parquet")
    val r = Tables.region(spark, dir)
    assert(r.columns.toSeq == Seq("r_regionkey", "r_name", "r_extra"))
  }

  // ---- tables.relations: one resolved relation per (session, version, table)

  /** (hits, misses) of the `tables.relations` registry. */
  private def relationStats(): (Long, Long) =
    Caching.registryStatsSnapshot().collectFirst {
      case ("tables.relations", h, m, _) => (h, m)
    }.getOrElse(fail("tables.relations is not registered"))

  private def writeDocs(dir: String, ids: Seq[Long]): Unit = {
    import spark.implicits._
    ids.map(i => (i, s"text $i", "en", "spec", 6L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  private def docIds(dir: String): Seq[Long] =
    Tables.documents(spark, dir).select("doc_id").collect().map(_.getLong(0))
      .toSeq.sorted

  test("relations: an unchanged directory serves its second load from the registry") {
    val dir = tempDir()
    writeDocs(dir, Seq(1L, 2L))
    val (h0, m0) = relationStats()
    val first = Tables.documents(spark, dir)
    val (h1, m1) = relationStats()
    val second = Tables.documents(spark, dir)
    val (h2, m2) = relationStats()
    assert((h1 - h0, m1 - m0) === ((0L, 1L)))
    assert((h2 - h1, m2 - m1) === ((1L, 0L)))
    assert(second eq first)
  }

  test("relations: a table rewritten in place loads its new rows") {
    val dir = tempDir()
    writeDocs(dir, Seq(1L, 2L, 3L))
    assert(docIds(dir) === Seq(1L, 2L, 3L))
    writeDocs(dir, Seq(7L, 8L))
    assert(docIds(dir) === Seq(7L, 8L))
  }

  test("embedder_compare's word2vec side follows a documents rewrite") {
    val dir = tempDir()
    Seq("documents", "embeddings").foreach(t => Files.copy(
      java.nio.file.Paths.get(s"${SparkSpec.FixtureDir}/$t.parquet"),
      java.nio.file.Paths.get(s"$dir/$t.parquet")))
    def word2vecDocs(): Long = Caching.scoped {
      SparkEntry.queries("embedder_compare")(spark, dir)
        .filter(col("embedder") === "word2vec").head().getAs[Long]("n_docs")
    }
    assert(word2vecDocs() === 100L)
    // rewritten by another writer: a Spark overwrite of the path would
    // also refresh the session's cached plans over it, which hides a stale
    // registry key
    val staged = tempDir()
    spark.read.parquet(s"${SparkSpec.FixtureDir}/documents.parquet")
      .filter(col("doc_id") < 40)
      .coalesce(1).write.parquet(s"$staged/documents.parquet")
    Files.delete(java.nio.file.Paths.get(s"$dir/documents.parquet"))
    Files.move(java.nio.file.Paths.get(s"$staged/documents.parquet"),
      java.nio.file.Paths.get(s"$dir/documents.parquet"))
    assert(word2vecDocs() === 40L)
  }

  test("relations: a drifted layout fails, is not cached, and loads once rewritten") {
    import spark.implicits._
    val dir = tempDir()
    Seq((1L, "text", "en", "web", "not-a-number"))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val e = intercept[IllegalArgumentException] { Tables.documents(spark, dir) }
    assert(e.getMessage.contains("'n_chars'"))
    // the failed build is not cached: the same version fails again
    intercept[IllegalArgumentException] { Tables.documents(spark, dir) }
    writeDocs(dir, Seq(4L, 5L))
    assert(docIds(dir) === Seq(4L, 5L))
  }

  test("relations: a non-UTC session is refused on an already-warm key") {
    val dir = tempDir()
    writeDocs(dir, Seq(1L))
    Tables.documents(spark, dir)
    val (h0, m0) = relationStats()
    val before = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "Asia/Seoul")
      val e = intercept[IllegalStateException] { Tables.documents(spark, dir) }
      assert(e.getMessage.contains("Asia/Seoul"))
    } finally spark.conf.set("spark.sql.session.timeZone", before)
    assert(relationStats() === ((h0, m0)))
    assert(docIds(dir) === Seq(1L))
  }

  // ---- live driver fixture: pin every table's post-load layout, so the
  //      NEXT regen of any fixture either adapts or fails THESE tests loudly
  //      instead of silently zeroing a slice of the correctness board.

  private val pinned: Seq[(String, SparkSession => org.apache.spark.sql.DataFrame,
      Seq[(String, DataType)])] = {
    type L = SparkSession => org.apache.spark.sql.DataFrame
    Seq(
      ("lineitem", ((s: SparkSession) => Tables.lineitem(s, SparkSpec.FixtureDir)): L,
        Seq("l_orderkey" -> LongType, "l_quantity" -> DoubleType,
          "l_returnflag" -> StringType, "l_shipdate" -> TimestampNTZType)),
      ("orders", ((s: SparkSession) => Tables.orders(s, SparkSpec.FixtureDir)): L,
        Seq("o_orderkey" -> LongType, "o_totalprice" -> DoubleType,
          "o_orderdate" -> TimestampNTZType)),
      ("customer", ((s: SparkSession) => Tables.customer(s, SparkSpec.FixtureDir)): L,
        Seq("c_custkey" -> LongType, "c_acctbal" -> DoubleType,
          "c_mktsegment" -> StringType)),
      ("supplier", ((s: SparkSession) => Tables.supplier(s, SparkSpec.FixtureDir)): L,
        Seq("s_suppkey" -> LongType, "s_acctbal" -> DoubleType)),
      ("part", ((s: SparkSession) => Tables.part(s, SparkSpec.FixtureDir)): L,
        Seq("p_partkey" -> LongType, "p_size" -> IntegerType,
          "p_retailprice" -> DoubleType)),
      ("nation", ((s: SparkSession) => Tables.nation(s, SparkSpec.FixtureDir)): L,
        Seq("n_nationkey" -> IntegerType, "n_regionkey" -> IntegerType)),
      ("region", ((s: SparkSession) => Tables.region(s, SparkSpec.FixtureDir)): L,
        Seq("r_regionkey" -> IntegerType, "r_name" -> StringType)),
      ("documents", ((s: SparkSession) => Tables.documents(s, SparkSpec.FixtureDir)): L,
        Seq("doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
          "source" -> StringType, "n_chars" -> LongType)),
      ("embeddings", ((s: SparkSession) => Tables.embeddings(s, SparkSpec.FixtureDir)): L,
        Seq("vec_id" -> LongType, "embedding" -> ArrayType(FloatType),
          "label" -> IntegerType)))
  }

  pinned.foreach { case (name, loader, cols) =>
    test(s"$name: the driver fixture loads with the pinned layout") {
      val df = loader(spark)
      cols.foreach { case (cname, dt) =>
        assert(df.schema(cname).dataType == dt,
          s"$name.$cname: ${df.schema(cname).dataType} != $dt")
      }
      assert(df.limit(1).count() == 1, s"$name: fixture is empty")
    }
  }

  test("events: the driver fixture itself loads with an LTZ ts column") {
    val ev = Tables.events(spark, SparkSpec.FixtureDir)
    assert(ev.schema("ts").dataType == TimestampType)
    assert(ev.filter(col("ts").isNull).count() == 0)
  }
}
