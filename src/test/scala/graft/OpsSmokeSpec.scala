package graft

import org.apache.spark.sql.functions._
import graft.operators._

/** Fixture-backed sanity checks over the sf0.001 driver tables: every
  * SparkEntry query runs, returns rows, and keeps its declared key
  * invariants. (Value-level correctness is the DuckDB oracle's job —
  * tools/check_oracle.py — these specs guard shape and invariants.)
  */
class OpsSmokeSpec extends SparkSuite {
  private val dir = SparkSpec.FixtureDir

  test("every SparkEntry query returns rows on the smallest fixture") {
    // ML queries excluded here: they train models (seconds each) and have
    // their own specs below; this sweep covers the pure DataFrame queries.
    val skip = Set("lda_topics", "lda_dominant", "lda_top_docs", "lda_grid",
      "kmeans_profile", "bertopic_keywords")
    SparkEntry.queries.filterNot(q => skip(q._1)).foreach { case (name, fn) =>
      val n = fn(spark, dir).count()
      assert(n > 0, s"query $name returned no rows")
    }
  }

  test("oracleSql and queries name the same faces (every face has a DuckDB oracle)") {
    val (oracles, faces) = (SparkEntry.oracleSql.keySet, SparkEntry.queries.keySet)
    assert((oracles -- faces).isEmpty, s"oracleSql without queries: ${oracles -- faces}")
    assert((faces -- oracles).isEmpty, s"queries without oracleSql: ${faces -- oracles}")
  }

  test("no object-level var in operators, multimodal, streaming or functions sources") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    // the scanner itself: only a var of an object body counts
    assert(OpsSmokeSpec.objectVarLines(
      """object A {
        |  @volatile private var x = "{" // }
        |  def f: Int = { var y = 2; y }
        |  object B { var z = '}' }
        |  /* object D { var d = 5 } */
        |}
        |class C(var c: Int) { var w = 4 }""".stripMargin) === Seq(2, 4))
    val files = Seq("operators", "multimodal", "streaming", "functions")
      .flatMap(p => Files.walk(Paths.get(s"src/main/scala/graft/$p")).iterator.asScala)
      .filter(_.toString.endsWith(".scala"))
    assert(files.size > 30, s"the scan found only ${files.size} sources")
    val found = files.flatMap(f =>
      OpsSmokeSpec.objectVarLines(Files.readString(f)).map(l => s"$f:$l"))
    assert(found.isEmpty, "object-level var (engine state that is not data a " +
      s"face or its oracle reads): ${found.mkString(", ")}")
  }

  test("selectFaces: a face list with one unknown name fails and names it") {
    val err = SparkEntry.selectFaces(Some(Seq("txt_word_topn", "txt_wrod_topn")))
    assert(err.isLeft)
    err.left.foreach { msg =>
      assert(msg.contains("unknown face name(s): txt_wrod_topn;"), msg)
      assert(msg.contains("txt_word_topn"), msg) // the known faces are listed
    }
    val one = SparkEntry.selectFaces(Some(Seq("txt_word_topn"))).map(_.map(_._1))
    assert(one == Right(Seq("txt_word_topn")))
    val all = SparkEntry.selectFaces(None).map(_.map(_._1))
    assert(all == Right(SparkEntry.queries.keys.toSeq.sorted))
  }

  test("every MAIN=graft.<Name> recipe in the docs and tools names a main") {
    import java.nio.file.{Files, Paths}
    val tools = Files.list(Paths.get("tools")).toArray.map(_.toString)
      .filter(_.endsWith(".sh"))
    val docs = Seq("README.md", "DEPLOY.md", ".claude/skills/verify/SKILL.md") ++ tools
    val recipe = """MAIN=graft\.([A-Za-z0-9_.]*[A-Za-z0-9_])""".r
    val named = docs.flatMap { f =>
      recipe.findAllMatchIn(Files.readString(Paths.get(f))).map(f -> _.group(1))
    }
    assert(named.nonEmpty, "no recipe found: the pattern or the file list is stale")
    named.foreach { case (f, name) =>
      val main = scala.util.Try(Class.forName(s"graft.$name$$")
        .getMethod("main", classOf[Array[String]]))
      assert(main.isSuccess, s"$f: MAIN=graft.$name names no main")
    }
  }

  test("entry() flagship matches the txt_word_topn query") {
    val a = SparkEntry.entry(spark).collect().map(_.toSeq)
    val b = SparkEntry.queries("txt_word_topn")(spark, dir).collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
  }

  test("topk window query respects per-group k and ordering") {
    val rows = RelationalOps.topOrdersPerPriority(spark, dir)
      .groupBy(col("o_orderpriority")).count().collect()
    assert(rows.nonEmpty && rows.forall(_.getLong(1) <= 3))
  }

  test("sessionize: session count never exceeds event count") {
    val bad = RelationalOps.userSessions(spark, dir)
      .filter(col("n_sessions") > col("n_events")).count()
    assert(bad == 0)
  }

  test("similarity: brute-force top-k is ordered, self-free, within rank") {
    val rows = SimilarityOps.bruteTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    assert(rows.forall(r => r._2 >= 1 && r._2 <= 10))
    assert(rows.forall(r => r._1 != r._3))
    rows.groupBy(_._1).foreach { case (_, g) =>
      val byRank = g.sortBy(_._2).map(_._4)
      assert(byRank.zip(byRank.tail).forall { case (hi, lo) => hi >= lo })
    }
  }

  test("LSH ANN results are a subset of brute-force scores (same cos values)") {
    val brute = SimilarityOps.bruteTopK(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3))).toMap
    val ann = SimilarityOps.lshAnn(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3)))
      .filter { case ((q, _), _) => q < 5 } // brute query set
    val overlapping = ann.filter { case (k, _) => brute.contains(k) }
    assert(overlapping.nonEmpty)
    overlapping.foreach { case (k, cos) => assert(brute(k) == cos) }
  }

  test("train_assembly: splits partition the gated survivors") {
    val rows = AssemblyOps.trainAssembly(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(3))).toMap
    val total = rows.values.map(_._1).sum
    val nDocs = Tables.documents(spark, dir).count()
    assert(total > 0 && total <= nDocs)
    // every surviving doc passed the 0.5 quality gate
    rows.values.foreach { case (_, avgQ) => assert(avgQ >= 0.5) }
    assert(rows.contains("train"))
  }

  test("repetition signals: hand-computed duplicate fractions") {
    import spark.implicits._
    import graft.functions.TextFunctions.tokens
    val df = Seq("spark spark spark spark", "all words are different here", "one")
      .toDF("text")
      .select(
        TextAnalysisOps.dupFrac(tokens(col("text"), 1, 100)).as("dup_tok"),
        TextAnalysisOps.dupFrac(
          TextAnalysisOps.tokenBigrams(tokens(col("text"), 1, 100))).as("dup_big"))
      .as[(Double, Double)].collect()
    assert(df(0) === ((0.75, 1.0 - 1.0 / 3.0))) // 4x same token, 3x same bigram
    assert(df(1) === ((0.0, 0.0)))              // all distinct
    assert(df(2) === ((0.0, 0.0)))              // single token: no bigrams
  }
}

object OpsSmokeSpec {

  /** Comments, string literals and char literals, matched left to right. */
  private val NonCode =
    """(?s)/\*.*?\*/|//[^\n]*|"(\\.|[^"\\\n])*"|'(\\.|[^'\\\n])'""".r

  /** A statement that declares a var, after its annotations and modifiers. */
  private val VarStatement = """^\s*(@\w+\s+)*(\w+(\[\w+\])?\s+)*var\b""".r

  private val ObjectHeader = """\bobject\s+\w+""".r

  /** Line numbers (1-based) of the vars declared directly in an `object`
    * body of Scala source `src`: comments and literals are blanked, then a
    * brace walk tracks whether the innermost open block is an object body
    * (its header, the code since the previous brace or `;`, names one).
    */
  def objectVarLines(src: String): Seq[Int] = {
    val code = NonCode.replaceAllIn(src, m => m.matched.replaceAll("[^\n]", " "))
    val blocks = scala.collection.mutable.Stack.empty[Boolean]
    var header = 0
    var line = 1
    val found = Seq.newBuilder[Int]
    code.indices.foreach { j =>
      code(j) match {
        case '{' =>
          blocks.push(ObjectHeader.findFirstIn(code.substring(header, j)).nonEmpty)
          header = j + 1
        case '}' => if (blocks.nonEmpty) blocks.pop(); header = j + 1
        case ';' => header = j + 1
        case '\n' => line += 1
        case _ => ()
      }
      if ((j == 0 || code(j - 1) == '\n' || code(j - 1) == '{' || code(j - 1) == ';') &&
          blocks.headOption.contains(true) &&
          VarStatement.findPrefixOf(code.substring(j, code.indexOf('\n', j) match {
            case -1 => code.length; case e => e })).nonEmpty)
        found += line
    }
    found.result()
  }
}
