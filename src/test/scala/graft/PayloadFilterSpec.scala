package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.PayloadFilter

/** Qdrant-filter-DSL translation: each DSL document must behave exactly
  * like its hand-written predicate. */
class PayloadFilterSpec extends AnyFunSuite with SparkSpec {

  private def emb = Tables.load(spark, sf, "embeddings")

  private def sameAs(dsl: String, hand: org.apache.spark.sql.Column): Unit = {
    val a = emb.filter(PayloadFilter.fromJson(dsl)).select("vec_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    val b = emb.filter(hand).select("vec_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(a == b)
    assert(a.nonEmpty, "degenerate test: empty result set")
  }

  test("match.value == equality") {
    sameAs("""{"key": "label", "match": {"value": 3}}""", col("label") === 3)
  }

  test("match.any == IN") {
    sameAs("""{"key": "label", "match": {"any": [1, 4]}}""",
      col("label").isin(1, 4))
  }

  test("range composes gte/lt") {
    sameAs("""{"key": "vec_id", "range": {"gte": 100, "lt": 200}}""",
      col("vec_id") >= 100 && col("vec_id") < 200)
  }

  test("must + should + must_not compose") {
    sameAs(
      """{"must": [{"key": "vec_id", "range": {"lt": 300}}],
          "should": [{"key": "label", "match": {"value": 1}},
                     {"key": "label", "match": {"value": 2}}],
          "must_not": [{"key": "vec_id", "match": {"value": 7}}]}""",
      col("vec_id") < 300 &&
        (col("label") === 1 || col("label") === 2) &&
        !(col("vec_id") === 7))
  }

  test("nested payload key via JSON column") {
    val ev = Tables.load(spark, sf, "events")
    val dsl = PayloadFilter.fromJson(
      """{"key": "k", "match": {"value": "77"}}""", jsonCol = Some("props"))
    val a = ev.filter(dsl).count()
    val b = ev.filter(get_json_object(col("props"), "$.k") === "77").count()
    assert(a == b && a > 0)
  }

  test("must_not keeps rows with missing/NULL keys (Qdrant semantics)") {
    val ev = Tables.load(spark, sf, "events")
    // props lacks key "zzz" everywhere: must_not(zzz = x) keeps ALL rows
    val dsl = PayloadFilter.fromJson(
      """{"must_not": [{"key": "zzz", "match": {"value": "x"}}]}""",
      jsonCol = Some("props"))
    assert(ev.filter(dsl).count() == ev.count())
  }

  test("empty clause arrays mean no constraint, not a crash") {
    val n = emb.count()
    assert(emb.filter(PayloadFilter.fromJson("""{"must": []}""")).count() == n)
    assert(emb.filter(PayloadFilter.fromJson(
      """{"must": [], "must_not": []}""")).count() == n)
  }

  test("match.text: all query tokens must appear among field tokens") {
    val docs = Tables.load(spark, sf, "documents")
    val dsl = PayloadFilter.fromJson(
      """{"key": "text", "match": {"text": "the data"}}""")
    val hand = array_contains(split(lower(col("text")), "\\s+"), "the") &&
      array_contains(split(lower(col("text")), "\\s+"), "data")
    val a = docs.filter(dsl).select("doc_id").collect().map(_.getLong(0)).toSet
    val b = docs.filter(hand).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b && a.nonEmpty)
    // and a token that is merely a substring of a word must NOT match
    val sub = docs.filter(PayloadFilter.fromJson(
      """{"key": "text", "match": {"text": "dat"}}"""))
    val whole = docs.filter(
      array_contains(split(lower(col("text")), "\\s+"), "dat"))
    assert(sub.count() == whole.count())
  }

  test("match.except == NOT IN; missing keys match") {
    sameAs("""{"key": "label", "match": {"except": [0, 1, 2]}}""",
      !col("label").isin(0, 1, 2))
    val ev = Tables.load(spark, sf, "events")
    val dsl = PayloadFilter.fromJson(
      """{"key": "zzz", "match": {"except": ["x"]}}""",
      jsonCol = Some("props"))
    assert(ev.filter(dsl).count() == ev.count(),
      "rows without the key must pass match.except")
  }

  test("is_empty / is_null / values_count") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq("a", "b"), Some("x")),
      (2L, Seq.empty[String], None),
      (3L, null.asInstanceOf[Seq[String]], Some(""))
    ).toDF("id", "tags", "opt")
    def ids(dsl: String): Set[Long] =
      df.filter(PayloadFilter.fromJson(dsl))
        .select("id").collect().map(_.getLong(0)).toSet
    assert(ids("""{"is_empty": {"key": "tags"}}""") == Set(2L, 3L))
    // an EMPTY STRING value is present and non-empty to Qdrant's IsEmpty
    assert(ids("""{"is_empty": {"key": "opt"}}""") == Set(2L))
    assert(ids("""{"is_null": {"key": "tags"}}""") == Set(3L))
    assert(ids("""{"is_null": {"key": "opt"}}""") == Set(2L))
    assert(ids("""{"key": "tags", "values_count": {"gte": 1}}""") == Set(1L))
    assert(ids("""{"key": "tags", "values_count": {"lt": 1}}""") == Set(2L))
  }

  test("values_count in JSON-payload mode counts array elements") {
    import spark.implicits._
    val df = Seq(
      (1L, """{"tags": ["a", "b", "c"]}"""),
      (2L, """{"tags": []}"""),
      (3L, """{"other": 1}""")
    ).toDF("id", "props")
    val dsl = PayloadFilter.fromJson(
      """{"key": "tags", "values_count": {"gte": 2}}""",
      jsonCol = Some("props"))
    assert(df.filter(dsl).select("id").collect().map(_.getLong(0)).toSet
      == Set(1L))
  }

  test("geo_bounding_box and geo_radius (struct + JSON payload modes)") {
    import spark.implicits._
    // Berlin 52.52/13.405, Munich 48.137/11.575, Paris 48.857/2.352
    val df = Seq(
      (1L, 52.52, 13.405), (2L, 48.137, 11.575), (3L, 48.857, 2.352)
    ).toDF("id", "lat", "lon")
      .withColumn("location", struct(col("lat"), col("lon")))
    def ids(dsl: String): Set[Long] =
      df.filter(PayloadFilter.fromJson(dsl))
        .select("id").collect().map(_.getLong(0)).toSet
    // box covering Germany only (Paris lon 2.352 < 5.9 -> excluded)
    assert(ids("""{"key": "location", "geo_bounding_box": {
        "top_left": {"lat": 55.0, "lon": 5.9},
        "bottom_right": {"lat": 47.2, "lon": 15.0}}}""") == Set(1L, 2L))
    // 600km radius around Munich: Berlin ~504km in, Paris ~685km out
    assert(ids("""{"key": "location", "geo_radius": {
        "center": {"lat": 48.137, "lon": 11.575},
        "radius": 600000}}""") == Set(1L, 2L))
    // 100km radius: only Munich itself
    assert(ids("""{"key": "location", "geo_radius": {
        "center": {"lat": 48.137, "lon": 11.575},
        "radius": 100000}}""") == Set(2L))

    // JSON-payload mode resolves location.lat/lon inside the JSON column
    val jdf = Seq(
      (1L, """{"location": {"lat": 52.52, "lon": 13.405}}"""),
      (3L, """{"location": {"lat": 48.857, "lon": 2.352}}""")
    ).toDF("id", "props")
    val near = jdf.filter(PayloadFilter.fromJson(
      """{"key": "location", "geo_radius": {
          "center": {"lat": 52.5, "lon": 13.4}, "radius": 50000}}""",
      jsonCol = Some("props")))
    assert(near.select("id").collect().map(_.getLong(0)).toSet == Set(1L))
  }

  test("nested array path key[].sub: any-element match (typed + JSON)") {
    import spark.implicits._
    // typed mode: array<struct> column — key[].sub resolves per element
    val df = Seq(
      (1L, Seq((3L, "a"), (9L, "b"))),
      (2L, Seq((7L, "c"))),
      (3L, Seq.empty[(Long, String)])
    ).toDF("id", "raw")
      .withColumn("tags", transform(col("raw"),
        e => struct(e.getField("_1").as("t"), e.getField("_2").as("s"))))
    def ids(dsl: String): Set[Long] =
      df.filter(PayloadFilter.fromJson(dsl))
        .select("id").collect().map(_.getLong(0)).toSet
    assert(ids("""{"key": "tags[].t", "match": {"value": 3}}""") == Set(1L))
    assert(ids("""{"key": "tags[].t", "match": {"any": [7, 9]}}""")
      == Set(1L, 2L))
    // range: at least one element inside ALL bounds (9 fails lt 9; 7 passes)
    assert(ids("""{"key": "tags[].t", "range": {"gte": 5, "lt": 9}}""")
      == Set(2L))
    assert(ids("""{"key": "tags[].s", "match": {"value": "c"}}""") == Set(2L))

    // JSON-payload mode: $.tags[*].t via get_json_object
    val jdf = Seq(
      (1L, """{"tags": [{"t": 3}, {"t": 9}]}"""),
      (2L, """{"tags": [{"t": 7}]}"""),
      (3L, """{"other": 1}""")
    ).toDF("id", "props")
    def jids(dsl: String): Set[Long] =
      jdf.filter(PayloadFilter.fromJson(dsl, jsonCol = Some("props")))
        .select("id").collect().map(_.getLong(0)).toSet
    assert(jids("""{"key": "tags[].t", "match": {"value": 3}}""") == Set(1L))
    assert(jids("""{"key": "tags[].t", "match": {"any": [7, 9]}}""")
      == Set(1L, 2L))
    assert(jids("""{"key": "tags[].t", "range": {"gte": 5, "lt": 9}}""")
      == Set(2L))
  }

  test("has_id resolves against the id column, composes with must_not") {
    val inc = emb.filter(PayloadFilter.fromJson(
      """{"has_id": [5, 6, 7]}""", idCol = "vec_id"))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(inc == Set(5L, 6L, 7L))
    val exc = emb.filter(PayloadFilter.fromJson(
      """{"must": [{"key": "vec_id", "range": {"lt": 10}}],
          "must_not": [{"has_id": [0, 1, 2]}]}""", idCol = "vec_id"))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(exc == (3L until 10L).toSet)
  }

  test("filter pushes down to the parquet scan") {
    val plan = emb.filter(PayloadFilter.fromJson(
        """{"must": [{"key": "label", "match": {"value": 3}}]}"""))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(label), EqualTo(label,3)]"),
      s"no pushdown in plan:\n$plan")
  }

  test("phrase match: consecutive tokens in order, whole-token " +
       "boundaries, whitespace-normalized") {
    import spark.implicits._
    val df = Seq(
      (1L, "the quick brown fox"),
      (2L, "quick the brown fox"),      // right tokens, wrong order
      (3L, "the quickest brown fox"),   // substring, not a whole token
      (4L, "THE   Quick\tbrown fox"),   // case + runs of whitespace
      (5L, "brown the quick")           // phrase at the end
    ).toDF("id", "text")
    def ids(phrase: String): Set[Long] =
      df.filter(PayloadFilter.fromJson(
          s"""{"key": "text", "match": {"phrase": "$phrase"}}"""))
        .select("id").collect().map(_.getLong(0)).toSet
    assert(ids("the quick") == Set(1L, 4L, 5L))
    assert(ids("quick brown fox") == Set(1L, 4L))
    assert(ids("fox") == Set(1L, 2L, 3L, 4L))
    assert(ids("quickest") == Set(3L))
  }

  test("datetime range (RFC 3339 bounds): time-order semantics on a " +
       "timestamp column, and the comparison pushes to the parquet scan") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("graft-dtr").toString
    Seq(
      (1L, "2024-01-02 23:59:59.999999"),
      (2L, "2024-01-03 00:00:00"),
      (3L, "2024-01-07 12:00:00"),
      (4L, "2024-01-10 00:00:00")
    ).toDF("id", "s")
      .withColumn("at", col("s").cast("timestamp")).drop("s")
      .write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    val dsl = """{"key": "at", "range": {"gte": "2024-01-03T00:00:00Z",
                                         "lt":  "2024-01-10T00:00:00Z"}}"""
    val hit = df.filter(PayloadFilter.fromJson(dsl))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(hit == Set(2L, 3L), s"datetime range matched $hit")
    // on a native TimestampType column the bound is a plain pushable
    // comparison (the target cast is identity) — the 100 TB row-group
    // pruning path q_events_dsl_time's scaladoc cites
    val plan = df.filter(PayloadFilter.fromJson(dsl))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(at), " +
        "GreaterThanOrEqual(at,2024-01-03"),
      s"datetime bound not pushed:\n$plan")
    // mixed numeric/datetime bounds are rejected, not silently coerced
    intercept[IllegalArgumentException] {
      PayloadFilter.fromJson(
        """{"key": "at", "range": {"gte": "2024-01-03T00:00:00Z", "lt": 5}}""")
    }
  }

  private val nestedDsl = """
    {"nested": {"key": "tags", "filter": {"must": [
      {"key": "t", "match": {"value": 3}},
      {"key": "w", "range": {"gte": 2}}
    ]}}}"""

  test("nested condition: SAME-element conjunction, not any-element " +
       "(typed + JSON modes agree)") {
    import spark.implicits._
    // row 1: t=3 and w>=2 live in DIFFERENT elements → any-element
    // passes, same-element must NOT; row 2: one element carries both;
    // row 3: matches neither; row 4: empty array
    val rows = Seq(
      (1L, Seq((3L, 1L), (4L, 2L))),
      (2L, Seq((3L, 2L), (9L, 1L))),
      (3L, Seq((4L, 1L))),
      (4L, Seq.empty[(Long, Long)]))
    val typed = rows.toDF("id", "raw")
      .select(col("id"), transform(col("raw"),
        e => struct(e.getField("_1").as("t"), e.getField("_2").as("w")))
        .as("tags"))
    val sameElem = typed.filter(PayloadFilter.fromJson(nestedDsl))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(sameElem == Set(2L),
      s"same-element semantics violated: matched $sameElem")
    // the any-element reading over the SAME rows admits row 1 too —
    // the difference the nested condition exists for
    val anyElem = typed.filter(PayloadFilter.fromJson("""
        {"must": [
          {"key": "tags[].t", "match": {"value": 3}},
          {"key": "tags[].w", "range": {"gte": 2}}
        ]}"""))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(anyElem == Set(1L, 2L),
      s"any-element baseline drifted: matched $anyElem")
    // JSON-payload mode: identical verdicts
    val json = typed.select(col("id"),
      to_json(struct(col("tags"))).as("payload"))
    val sameElemJson = json.filter(PayloadFilter.fromJson(nestedDsl,
        jsonCol = Some("payload")))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(sameElemJson == Set(2L),
      s"JSON-mode nested semantics drifted: matched $sameElemJson")
  }

  test("nested condition NESTS: a nested filter inside a nested filter " +
       "quantifies the inner array of the SAME outer element " +
       "(typed + JSON modes)") {
    import spark.implicits._
    // one variant-level element must carry BOTH kind=a AND an option
    // element with price >= 5 — row 1 splits them across variants
    // (outer any-element would pass), row 2 has one variant with both
    val rows = Seq(
      (1L, Seq(("a", Seq(1L)), ("b", Seq(9L)))),
      (2L, Seq(("a", Seq(2L, 7L)), ("b", Seq(1L)))),
      (3L, Seq(("b", Seq(9L)))))
    val typed = rows.toDF("id", "raw")
      .select(col("id"), transform(col("raw"), v =>
        struct(v.getField("_1").as("kind"),
          transform(v.getField("_2"), p => struct(p.as("price")))
            .as("options"))).as("variants"))
    val dsl = """
      {"nested": {"key": "variants", "filter": {"must": [
        {"key": "kind", "match": {"value": "a"}},
        {"nested": {"key": "options", "filter": {"must": [
          {"key": "price", "range": {"gte": 5}}
        ]}}}
      ]}}}"""
    val got = typed.filter(PayloadFilter.fromJson(dsl))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got == Set(2L), s"nested-in-nested (typed) matched $got")
    val json = typed.select(col("id"),
      to_json(struct(col("variants"))).as("payload"))
    val gotJson = json.filter(PayloadFilter.fromJson(dsl,
        jsonCol = Some("payload")))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(gotJson == Set(2L), s"nested-in-nested (JSON) matched $gotJson")
  }

  test("nested condition rejects has_id / has_vector (public DSL rule)") {
    intercept[IllegalArgumentException] {
      PayloadFilter.fromJson(
        """{"nested": {"key": "tags", "filter":
             {"must": [{"has_id": [1]}]}}}""")
    }
    intercept[IllegalArgumentException] {
      PayloadFilter.fromJson(
        """{"nested": {"key": "tags", "filter":
             {"must": [{"has_vector": "v"}]}}}""")
    }
  }

  test("min_should: at least min_count conditions match; a NULL " +
       "condition counts as unmatched (must_not's coercion)") {
    import spark.implicits._
    val df = Seq(
      (1L, Some(3L), 50L),   // label match + range match = 2
      (2L, Some(3L), 500L),  // label match only            = 1
      (3L, Some(1L), 50L),   // range match only            = 1
      (4L, None, 50L),       // NULL label: range only      = 1
      (5L, None, 5L)         // NULL label + range + id∈    = 2
    ).toDF("id", "label", "v")
    val dsl = """
      {"min_should": {"conditions": [
        {"key": "label", "match": {"value": 3}},
        {"key": "v", "range": {"lt": 100}},
        {"has_id": [5, 6]}
      ], "min_count": 2}}"""
    val hit = df.filter(PayloadFilter.fromJson(dsl))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(hit == Set(1L, 5L), s"min_should matched $hit")
    intercept[IllegalArgumentException] { // min_count is required
      PayloadFilter.fromJson("""{"min_should": {"conditions":
        [{"key": "v", "range": {"lt": 1}}]}}""")
    }
    intercept[IllegalArgumentException] { // and must be positive —
      // min_count <= 0 would be vacuously true, not a valid filter
      PayloadFilter.fromJson("""{"min_should": {"conditions":
        [{"key": "v", "range": {"lt": 1}}], "min_count": 0}}""")
    }
  }

  test("has_vector over the deleteVectorsWhere partial-vector state: " +
       "exactly the points still carrying the named vector") {
    import graft.sources.Collections
    import graft.sources.Collections.VectorConfig
    val dir = SparkSpec.tempDir("graft-hv")
      .toString + "/c"
    val sink = new Collections.ParquetCollectionSink(spark, dir,
      VectorConfig(64), "embedding", "vec_id", "seq")
    sink.write(Tables.load(spark, sf, "embeddings").limit(60)
      .withColumn("seq", lit(0)))
    Collections.deleteVectorsWhere(spark, dir, col("vec_id") % 3 === 0,
      "vec_id", vecCols = Seq("embedding"))
    val pts = Collections.read(spark, dir)
    val kept = pts.filter(PayloadFilter.fromJson(
        """{"must": [{"has_vector": "embedding"}]}""", idCol = "vec_id"))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val expected = pts.filter(col("embedding").isNotNull)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == expected && kept.nonEmpty &&
      kept.forall(_ % 3 != 0), s"has_vector matched $kept")
    // and the negated form finds exactly the vector-less points
    val dropped = pts.filter(PayloadFilter.fromJson(
        """{"must_not": [{"has_vector": "embedding"}]}""", idCol = "vec_id"))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(dropped.nonEmpty && dropped.forall(_ % 3 == 0))
  }

  test("geo_polygon: non-convex ray casting with a hole — planted " +
       "inside/outside/concavity/hole points verdict exactly") {
    import spark.implicits._
    // the shared fixture polygon (VectorQueries.polyExt/polyHole):
    // non-convex pentagon, rectangular hole
    val pts = Seq(
      (1L, 40.0, 0.0, true),     // interior, away from everything
      (2L, 5.0, -60.0, false),   // inside the bbox but in the concavity
      (3L, 10.0, 5.0, true),     // interior just west of the hole
      (4L, 10.0, 25.0, false),   // inside the hole
      (5L, 70.0, 0.0, false),    // north of the exterior
      (6L, 55.0, 30.0, true),    // interior near the NE corner
      (7L, -50.0, -170.0, false) // outside the bbox entirely
    )
    val df = pts.toDF("id", "lat", "lon", "exp")
      .select(col("id"), struct(col("lat"), col("lon")).as("location"),
        col("exp"))
    val got = df.filter(PayloadFilter.fromJson(VectorQueries.geoPolyDsl,
        idCol = "id"))
      .select("id").collect().map(_.getLong(0)).toSet
    val expected = pts.filter(_._4).map(_._1).toSet
    assert(got == expected, s"polygon verdicts: got $got want $expected")
    // explicit (first == last) and implicit ring closure are the same
    // predicate
    import graft.operators.PayloadFilter.{microCol, pointInRing}
    val ringClosed = VectorQueries.polyExt.map { case (la, lo) =>
      (math.round(la * 1e6), math.round(lo * 1e6)) }
    val latM = microCol(col("location.lat"))
    val lonM = microCol(col("location.lon"))
    val a = df.filter(pointInRing(latM, lonM, ringClosed))
      .select("id").collect().map(_.getLong(0)).toSet
    val b = df.filter(pointInRing(latM, lonM, ringClosed.init))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(a == b, "ring closure form changed the predicate")
    // degenerate rings are rejected
    intercept[IllegalArgumentException] {
      df.filter(pointInRing(latM, lonM,
        Seq((0L, 0L), (1L, 1L), (0L, 0L)))).count()
    }
  }
}
