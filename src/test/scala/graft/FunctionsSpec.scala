package graft

import graft.functions.{JsonOps, Keys, SafeCasts, TextOps, VectorOps}
import graft.gold.Evo
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._

/** Unit specs for the Column-combinator library (SURVEY.md §5.2). */
class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  private def one[T](c: org.apache.spark.sql.Column): T =
    Seq("x").toDF("ignore").select(c.as("v")).collect()(0).getAs[T]("v")

  // ---- SafeCasts (P7)

  test("safeLong: scalars, floats, garbage, empty, dict-unwrap") {
    val df = Seq("42", "42.9", "abc", "", " 7 ", """{"value": 13}""",
      """{"id": 9}""", null)
      .toDF("s").select(SafeCasts.safeLong(col("s")).as("v"))
    assert(df.collect().map(r => Option(r.get(0))).toSeq ==
      Seq(Some(42L), Some(42L), None, None, Some(7L), Some(13L),
        Some(9L), None))
  }

  test("safeBool: postgres + python truthiness") {
    val df = Seq("true", "1", "yes", "on", "t", "FALSE", "0", "no",
      "off", "f", "maybe", "", null)
      .toDF("s").select(SafeCasts.safeBool(col("s")).as("v"))
    assert(df.collect().map(r => Option(r.get(0))).toSeq == Seq(
      Some(true), Some(true), Some(true), Some(true), Some(true),
      Some(false), Some(false), Some(false), Some(false), Some(false),
      None, None, None))
  }

  test("safeTimestamp/safeDate: invalid -> null, valid parses") {
    val df = Seq(("2023-01-10T12:00:00Z", "1990-05-01"),
      ("not-a-date", "nope")).toDF("t", "d")
      .select(SafeCasts.safeTimestamp(col("t")).as("t"),
        SafeCasts.safeDate(col("d")).as("d"))
    val rows = df.collect()
    assert(rows(0).getTimestamp(0) == ts("2023-01-10T12:00:00Z"))
    assert(rows(0).getDate(1).toString == "1990-05-01")
    assert(rows(1).get(0) == null && rows(1).get(1) == null)
  }

  test("safeDecimal rounds to scale and unwraps dicts") {
    val df = Seq("12.505", """{"value": "99.90"}""").toDF("s")
      .select(SafeCasts.safeDecimal(col("s")).cast("string").as("v"))
    assert(df.collect().map(_.getString(0)).toSeq == Seq("12.51", "99.90"))
  }

  test("SafeCasts: garbage -> NULL, identical with ANSI mode on and off") {
    val garbage = Seq("abc", "", "1e30", """{"value":"x"}""",
      "2023-13-45T99:99:99", "2023-02-30")
    val key = "spark.sql.ansi.enabled"
    val saved = spark.conf.get(key)
    // the frame is built AFTER the conf is set: a cast takes its eval
    // mode when the expression is analysed, not when it runs
    def rows(ansi: String) = {
      spark.conf.set(key, ansi)
      garbage.toDF("s").select(
        SafeCasts.safeLong(col("s")), SafeCasts.safeInt(col("s")),
        SafeCasts.safeDecimal(col("s")), SafeCasts.safeDouble(col("s")),
        SafeCasts.safeTimestamp(col("s")), SafeCasts.safeDate(col("s")))
        .collect().map(_.toSeq.map(Option(_))).toSeq
    }
    val (on, off) = try (rows("true"), rows("false"))
      finally spark.conf.set(key, saved)
    assert(on == off)
    // '1e30' is a well-formed double; every other cell is garbage
    val expected = garbage.map(g => Seq.tabulate(6)(i =>
      if (g == "1e30" && i == 3) Some(1e30) else None))
    assert(off == expected)
  }

  // SafeScalar against the composed built-in form it replaces
  private def composedCleaned(c: Column): Column = {
    val s = trim(coalesce(get_json_object(c, "$.value"),
      get_json_object(c, "$.id"), c))
    when(s === "", lit(null)).otherwise(s)
  }

  private val cleanInputs: Seq[String] = Seq(
    "42", "42.9", "abc", "true", " 7 ", "  x  y  ", "\t8\t", "\n9\n",
    " \t ", "", "   ",
    """{"value": 42}""", """{"id": "x"}""", """{"value": 1, "id": 2}""",
    """{"id": 3, "value": " v "}""", """{"value": null, "id": 5}""",
    """{"value": ""}""", """{"value": "   "}""", """{"value": {"a": 1}}""",
    """{"id": {"value": 4}}""", """{"value": [1, 2]}""", "{}",
    "[1]", """[{"value": 1}]""", "{abc", "a{b", """  {"value": 6}""",
    "\uFEFF" + """{"value": 7}""", "ünïcødé ✓", """{"value": "ação"}""",
    """{"value": 10} trailing""", null)

  private def cleanedBothWays(df: DataFrame): Seq[(Any, Any, Any, Any)] =
    df.select(col("i"), SafeCasts.safeText(col("s")),
      composedCleaned(col("s")), SafeCasts.safeLong(col("s")),
      composedCleaned(col("s")).try_cast("decimal(28,8)").try_cast("long"))
      .orderBy("i").collect()
      .map(r => (r.get(1), r.get(2), r.get(3), r.get(4))).toSeq

  private def assertCleanedParity(df: DataFrame): Unit = {
    val key = "spark.sql.ansi.enabled"
    val saved = spark.conf.get(key)
    try for (ansi <- Seq("true", "false")) {
      spark.conf.set(key, ansi)
      val rows = cleanedBothWays(df)
      assert(rows.size == cleanInputs.size)
      rows.zip(cleanInputs).foreach { case ((t, refT, l, refL), in) =>
        assert(t == refT && l == refL,
          s"ansi=$ansi input=[$in]: ($t, $l) vs ($refT, $refL)")
      }
    } finally spark.conf.set(key, saved)
  }

  test("SafeScalar == composed cleaning, interpreted (local relation)") {
    val df = cleanInputs.zipWithIndex.map { case (s, i) => (i, s) }
      .toDF("i", "s")
    // ConvertToLocalRelation evaluates the projection on the driver
    assert(df.select(SafeCasts.safeText(col("s"))).queryExecution
      .optimizedPlan.isInstanceOf[LocalRelation])
    assertCleanedParity(df)
  }

  test("SafeScalar == composed cleaning, whole-stage codegen'd") {
    val path = tmpDir("safescalar") + "/t"
    cleanInputs.zipWithIndex.map { case (s, i) => (i, s) }.toDF("i", "s")
      .write.parquet(path)
    val saved = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val df = spark.read.parquet(path)
      val plan = df.select(SafeCasts.safeText(col("s")))
        .queryExecution.executedPlan
      assert(plan.exists(_.isInstanceOf[WholeStageCodegenExec]))
      assertCleanedParity(df)
    } finally spark.conf.set("spark.sql.codegen.fallback", saved)
  }

  test("Evo.members plan stays small: one node per safe-cast clean") {
    val silver = Seq(("{}", "r1")).toDF("raw_data", "run_id")
      .withColumn("_loaded_at", current_timestamp())
      .withColumn("_updated_at", current_timestamp())
    val nodes = graft.tools.PlanDump.expressionNodes(
      Evo.members(silver).queryExecution.analyzed)
    assert(nodes <= 700, s"$nodes analyzed expression nodes")
  }

  // ---- Keys (K6) — exact parity with the Python reference constants

  test("entryId matches Python int(md5[:15],16) %% 10^15 bit-for-bit") {
    val df = Seq(
      ("2024-03-05T07:45:00Z", Some(101L), None: Option[Long], None: Option[Long],
        Some(3L), Some("Turnstile-01"), Some("Entry")),
      ("2023-01-01T00:00:00Z", None, Some(5L), None, Some(1L), None,
        Some("Exit")))
      .toDF("date", "m", "p", "e", "b", "dev", "act")
      .select(Keys.entryId(col("date"), col("m"), col("p"), col("e"),
        col("b"), col("dev"), col("act")).as("k"))
    assert(df.collect().map(_.getLong(0)).toSeq ==
      Seq(666922933622125L, 930635880053884L))
  }

  test("pipeKey keeps empty slots for nulls (not concat_ws skipping)") {
    assert(one[String](Keys.pipeKey(lit(null), lit("a"), lit(null)))
      == "|a|")
  }

  test("entryId: Python-falsy zero ids hash like the reference") {
    // reference builds str(rec.get(f) or ""), so idMember=0 -> ""
    val df = Seq((0L, 3L), (5L, 3L)).toDF("m", "b")
      .select(Keys.entryId(lit("2024-03-05T07:45:00Z"), col("m"),
        lit(null), lit(null), col("b"), lit("T1"), lit("Entry")).as("k"))
    assert(df.collect().map(_.getLong(0)).toSeq ==
      Seq(887889173675017L, 775547862308988L)) // Python-computed
  }

  test("minhash constants stay below the overflow bound for all k < 64") {
    for (k <- 0 until TextOps.MinhashMaxK)
      assert(TextOps.minhashA(k) < (1L << 30) && TextOps.minhashA(k) % 2 == 1)
    intercept[IllegalArgumentException](TextOps.minhashA(64))
  }

  // ---- JsonOps (P4/P5/P6/P8)

  test("firstMatch picks first contact of requested types") {
    val df = Seq("""{"contacts":[
        {"idContactType":"1","description":"+55-phone"},
        {"idContactType":"4","description":"a@b.c"},
        {"idContactType":"3","description":"second@b.c"}]}""",
      """{"contacts":null}""", """{}""")
      .toDF("raw")
      .select(JsonOps.firstMatch(
        JsonOps.parse(col("raw"),
          "contacts ARRAY<STRUCT<idContactType: STRING, description: STRING>>")
          .getField("contacts"),
        "idContactType", Seq(3, 4), "description").as("email"))
    assert(df.collect().map(r => Option(r.getString(0))).toSeq ==
      Seq(Some("a@b.c"), None, None))
  }

  test("primaryValue prefers primary=true else first") {
    val t = "ARRAY<STRUCT<value: STRING, primary: BOOLEAN>>"
    val df = Seq(
      """[{"value":"x@a","primary":false},{"value":"y@a","primary":true}]""",
      """[{"value":"first@a","primary":false}]""",
      """[]""", null)
      .toDF("raw")
      .select(JsonOps.primaryValue(JsonOps.parse(col("raw"), t)).as("v"))
    assert(df.collect().map(r => Option(r.getString(0))).toSeq ==
      Seq(Some("y@a"), Some("first@a"), None, None))
  }

  test("residualJson drops standard keys, keeps nested values as JSON") {
    val df = Seq("""{"id":1,"name":"x","customField_abc":"website"}""",
      """{"id":2,"name":"y"}""",
      """{"id":3,"cf":{"value":500,"currency":"BRL"},"tags":[1,2]}""",
      "not-json")
      .toDF("raw")
      .select(JsonOps.residualJson(col("raw"), Seq("id", "name")).as("cf"))
    val got = df.collect().map(r => Option(r.getString(0))).toSeq
    assert(got(0).contains("""{"customField_abc":"website"}"""))
    assert(got(1).isEmpty)
    // nested object/array values survive as real JSON (not escaped text)
    assert(got(2).contains(
      """{"cf":{"value":500,"currency":"BRL"},"tags":[1,2]}"""))
    assert(got(3).isEmpty) // malformed input -> NULL, never throws
  }

  test("jsonWhen builds JSON only when condition holds") {
    val df = Seq(("hot", true), ("cold", false)).toDF("t", "c")
      .select(JsonOps.jsonWhen(col("c"), "temperature" -> col("t")).as("v"))
    val got = df.collect().map(r => Option(r.getString(0))).toSeq
    assert(got == Seq(Some("""{"temperature":"hot"}"""), None))
  }

  // ---- TextOps / VectorOps

  test("shingles3: short docs yield empty, distinct applied") {
    val df = Seq("a b", "a b c a b c a b c").toDF("text")
      .withColumn("tk", TextOps.tokens(col("text")))
      .select(TextOps.shingles3(col("tk")).as("sh"))
    val got = df.collect().map(_.getSeq[String](0))
    assert(got(0).isEmpty)
    // 7 positional 3-grams but only 3 distinct under rotation
    assert(got(1).toSet == Set("a b c", "b c a", "c a b"))
  }

  test("lshWeight deterministic and mixed-sign") {
    val ws = for (p <- 0 until 16; i <- 0 until 64)
      yield VectorOps.lshWeight(p, i)
    assert(ws.exists(_ > 0) && ws.exists(_ < 0))
    assert(ws == (for (p <- 0 until 16; i <- 0 until 64)
      yield VectorOps.lshWeight(p, i)))
  }

  test("cosine of identical vectors is 1") {
    val df = Seq(Array(1.0f, 2.0f, 3.0f)).toDF("e")
      .select(VectorOps.asDouble(col("e")).as("v"))
      .withColumn("n", VectorOps.norm(col("v")))
      .select(VectorOps.cosine(col("v"), col("v"), col("n"), col("n")).as("c"))
    assert(df.collect()(0).getDouble(0) == 1.0)
  }

  test("HtmlOps.extractText: script/style content drops, tag content " +
    "stays, entities decode once, whitespace collapses") {
    import graft.functions.HtmlOps
    val cases = Seq(
      // script body with a bare '<' must vanish entirely
      "<p>a</p><script>if (1 < 2) { x(); }</script><p>b</p>" -> "a b",
      // multi-line style, case-insensitive tag
      "<STYLE>\np { c: 1; }\n</STYLE>keep" -> "keep",
      // commented-out markup must not survive the tag pass
      "x <!-- <p>hidden</p> --> y" -> "x y",
      // &amp;lt; decodes to &lt; — ONE level, never to '<'
      "a &amp;lt; b" -> "a &lt; b",
      "A&nbsp;&quot;q&quot;&#39;s&#39; &lt;tag&gt; &amp; done" ->
        "A \"q\"'s' <tag> & done",
      "<div class=\"x\">  spaced \t out  </div>" -> "spaced out",
      "<br/><hr />" -> "")
    val got = cases.map(_._1).toDF("h")
      .select(HtmlOps.extractText(col("h")).as("t"))
      .collect().map(_.getString(0))
    cases.map(_._2).zip(got).foreach { case (want, t) =>
      assert(t == want, s"got '$t' want '$want'")
    }
  }

  test("HtmlOps.linkDensity and textShare edge cases") {
    import graft.functions.HtmlOps
    val df = Seq(
      "<a href=\"/\">nav</a> <a>more</a>", // all-link page
      "<p>plain prose only</p>", // no anchors
      "<script>x()</script>", // no text at all
      "<abbr>ABC</abbr> <a>x</a>" // <abbr> must NOT count as anchor
    ).toDF("h").select(
      HtmlOps.linkDensity(col("h")).as("ld"),
      HtmlOps.textShare(col("h")).as("ts"))
    val rows = df.collect()
    // "nav more" = 8 chars, all from anchors
    assert(rows(0).getDouble(0) == 1.0)
    assert(rows(1).getDouble(0) == 0.0)
    // empty extraction: both signals 0, no divide-by-zero
    assert(rows(2).getDouble(0) == 0.0 && rows(2).getDouble(1) == 0.0)
    // "ABC x" = 5 chars, anchor "x" = 1 — <abbr> content is NOT link text
    assert(rows(3).getDouble(0) == 0.2)
  }

  test("UrlOps.canonicalUrl edge policies beyond the t113 families") {
    import graft.functions.UrlOps
    val cases = Seq(
      // NON-default port survives even on http
      "http://Host.com:8080/p?b=2&a=1" -> "http://host.com:8080/p?a=1&b=2",
      // empty param segments (a=1&&b=2) drop; value-less param kept
      "https://h.io/x?a=1&&flag&utm_x=1" -> "https://h.io/x?a=1&flag",
      // fragment-only extras
      "https://h.io/x#sec" -> "https://h.io/x",
      // not a URL: passes through untouched (no scheme://)
      "plain text" -> "plain text",
      "relative/path?b=1" -> "relative/path?b=1",
      // tracking params are matched case-insensitively — the same
      // page crawled via an uppercase tracking link must dedup
      "https://h.io/x?UTM_SOURCE=a&b=1" -> "https://h.io/x?b=1",
      "https://h.io/x?FbClId=z" -> "https://h.io/x",
      // empty-KEY params ('=v') drop per the scaladoc contract
      "https://h.io/x?=v&a=1" -> "https://h.io/x?a=1",
      // bare fbclid with no '=' is still a tracking param
      "https://h.io/x?gclid" -> "https://h.io/x")
    val got = cases.map(_._1).toDF("u")
      .select(UrlOps.canonicalUrl(col("u")).as("c"))
      .collect().map(_.getString(0))
    cases.map(_._2).zip(got).foreach { case (want, c) =>
      assert(c == want, s"got '$c' want '$want'")
    }
  }
}
