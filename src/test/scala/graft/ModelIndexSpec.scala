package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Drift, ModelIndex}

/** The persisted model-artifact layout (the r14 verdict's top gap):
  * learned-gate weights pinned on disk with the trained-layout
  * contracts — serving equals the direct fit, no-op maintain is
  * byte-identical, a planted distribution shift fires the
  * teacher-disagreement signal, the refit restores agreement, and
  * refresh == rebuild for the weight table. */
class ModelIndexSpec extends AnyFunSuite with SparkSpec {

  private def tmp(name: String): String =
    SparkSpec.tempDir(s"graft-model-$name").resolve("m").toString

  /** (path → (size, mtime)) fingerprint of every file under a dir. */
  private def fileState(dir: String): Map[String, (Long, Long)] = {
    val root = Paths.get(dir)
    val s = Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(Files.isRegularFile(_))
        .map((p: Path) => p.toString ->
          (Files.size(p), Files.getLastModifiedTime(p).toMillis))
        .toMap
    } finally s.close()
  }

  /** Synthetic fit corpus with a CONTROLLED teacher/feature link:
    * even ids are all-stopword text (teacher POSITIVE, bigram "the is"
    * family), odd ids are junk-token text (teacher NEGATIVE, bigram
    * "alpha beta" family). The trained model aligns with the teacher
    * on exactly this distribution. */
  private def fitDocs: DataFrame = {
    import spark.implicits._
    (0L until 40L).map { i =>
      val text =
        if (i % 2 == 0) "the is the is the is the is the is"
        else "alpha beta alpha beta alpha beta alpha beta alpha beta"
      (i, text, if (i % 3 == 0) "en" else "de")
    }.toDF("doc_id", "text", "lang")
  }

  /** The planted SHIFT: every doc is teacher-POSITIVE (2 stopwords over
    * 10 tokens ⇒ hits·10 ≥ n_tok) but carries the bigrams the pinned
    * model learned as NEGATIVE ("alpha beta"/"beta alpha") — the model
    * keeps calling them junk, the teacher disagrees on every row. */
  private def shiftedDocs: DataFrame = {
    import spark.implicits._
    (100L until 140L).map { i =>
      (i, "the alpha beta alpha beta alpha beta alpha beta the",
        if (i % 3 == 0) "en" else "de")
    }.toDF("doc_id", "text", "lang")
  }

  test("classifier model: the persisted LUT equals the direct fit " +
       "bit-for-bit, and the fixture-served keys read it (the " +
       "unchanged-oracle serving contract)") {
    val dir = tmp("cls")
    TextQueries.fitClassifierModel(fitDocs, dir)
    val served = ModelIndex.lut(spark, dir)
    val en = graft.operators.TextAnalysis.stopwords.toMap.apply("en")
    val direct = graft.operators.TextAnalysis.fitBigramRatioWeights(
      fitDocs.select(graft.operators.Dedup.tokens(col("text")).as("tk"))
        .withColumn("label",
          graft.operators.TextAnalysis.hitCount(col("tk"), en) * 10
            >= size(col("tk"))),
      "tk", "label")
    assert(served == direct,
      "layout-served weights diverge from the direct fit")
    val m = ModelIndex.metaOf(dir)
    assert(m.form == "lut" && m.buckets == 4096 && m.nDocs == 40,
      s"unexpected meta: $m")
    // the fixture-backed serving path: the declared keys' weights come
    // from a persisted layout of the same shape
    val fromFixture = TextQueries.trainedWeights(spark, sf)
    assert(fromFixture.length == 4096)
    assert(ModelIndex.metaOf(
        TextQueries.classifierModelDir(spark, sf)).form == "lut")
  }

  test("no-op maintain: ratio EXACTLY 1.0 on the fit corpus, no " +
       "retrain, layout bytes untouched") {
    val dir = tmp("noop")
    TextQueries.fitClassifierModel(fitDocs, dir)
    val before = fileState(dir)
    val w = ModelIndex.lut(spark, dir)
    val res = ModelIndex.maintain(spark, dir)(
      TextQueries.classifierDisagreement(fitDocs, w)._2) { _ =>
      fail("no-op maintain must not refit")
    }
    assert(res.ratio == 1.0,
      s"signal on unchanged data must be exactly 1.0: ${res.ratio}")
    assert(!res.retrained)
    assert(fileState(dir) == before, "no-op maintain touched the layout")
  }

  test("planted shift fires the teacher-disagreement signal, the " +
       "staged refit restores agreement, and the post-refit signal " +
       "re-pins to exactly 1.0") {
    val dir = tmp("shift")
    TextQueries.fitClassifierModel(fitDocs, dir)
    val pinned = ModelIndex.metaOf(dir).signalMicro
    val drifted = TextQueries.classifierDisagreement(shiftedDocs,
      ModelIndex.lut(spark, dir))._2
    assert(ModelIndex.signalRatio(drifted, pinned) > Drift.DefaultThreshold,
      s"shift must fire: drifted=$drifted pinned=$pinned")
    val res = ModelIndex.maintain(spark, dir)(drifted) { staging =>
      TextQueries.fitClassifierModel(shiftedDocs, staging)
    }
    assert(res.retrained, "past-threshold maintain must refit")
    // the refit model agrees with the teacher on the shifted corpus
    val healed = TextQueries.classifierDisagreement(shiftedDocs,
      ModelIndex.lut(spark, dir))._2
    assert(healed < drifted,
      s"refit did not restore agreement: $healed vs $drifted")
    val res2 = ModelIndex.maintain(spark, dir)(healed) { _ =>
      fail("re-measured signal after refit must be a no-op")
    }
    assert(res2.ratio == 1.0 && !res2.retrained,
      s"post-refit signal must re-pin to 1.0: ${res2.ratio}")
  }

  test("refresh == rebuild: the staged refit's weight table and " +
       "metadata are row-identical to a fresh build on the same corpus") {
    val a = tmp("refresh")
    val b = tmp("fresh")
    TextQueries.fitClassifierModel(fitDocs, a)
    ModelIndex.refresh(a)(TextQueries.fitClassifierModel(shiftedDocs, _))
    TextQueries.fitClassifierModel(shiftedDocs, b)
    assert(ModelIndex.lut(spark, a) == ModelIndex.lut(spark, b),
      "refreshed weights diverge from a fresh build")
    assert(ModelIndex.metaOf(a) == ModelIndex.metaOf(b),
      "refreshed metadata diverges from a fresh build")
  }

  test("DSIR model: no-op at 1.0, target-vocabulary swap fires, refit " +
       "heals") {
    import spark.implicits._
    // target (en) speaks x-tokens, raw majority (de) speaks y-tokens
    val fit = (0L until 40L).map { i =>
      if (i % 2 == 0) (i, "xray xenon xylem xor xi", "en")
      else (i, "yak yarn yeast yield yoga", "de")
    }.toDF("doc_id", "text", "lang")
    // the shift: the vocabularies SWAP (a re-sourced corpus) — the
    // pinned LUT scores en docs below parity and de docs above, so the
    // teacher disagrees on every row; a refit on the swapped corpus can
    // re-separate them (healed ≈ 0)
    val shifted = (100L until 140L).map { i =>
      if (i % 2 == 0) (i, "yak yarn yeast yield yoga", "en")
      else (i, "xray xenon xylem xor xi", "de")
    }.toDF("doc_id", "text", "lang")
    val dir = tmp("dsir")
    TextQueries.fitDsirModel(fit, dir)
    assert(ModelIndex.metaOf(dir).buckets == 1024)
    val noop = ModelIndex.maintain(spark, dir)(
      TextQueries.dsirDisagreement(fit, ModelIndex.lut(spark, dir))._2) {
      _ => fail("no-op")
    }
    assert(noop.ratio == 1.0 && !noop.retrained)
    val drifted = TextQueries.dsirDisagreement(shifted,
      ModelIndex.lut(spark, dir))._2
    val res = ModelIndex.maintain(spark, dir)(drifted) { staging =>
      TextQueries.fitDsirModel(shifted, staging)
    }
    assert(res.retrained, s"vocabulary swap must fire (signal $drifted)")
    val healed = TextQueries.dsirDisagreement(shifted,
      ModelIndex.lut(spark, dir))._2
    assert(healed < drifted, s"refit did not heal: $healed vs $drifted")
  }

  test("LM model: fit-corpus OOV is 0 (no-op at exactly 1.0), new " +
       "vocabulary fires the OOV signal, refit zeroes it again; the " +
       "served table is join-form") {
    val dir = tmp("lm")
    TextQueries.fitLmModel(fitDocs, dir)
    val m = ModelIndex.metaOf(dir)
    assert(m.form == "table" && m.signalMicro == 0L)
    assert(TextQueries.lmSignalMicro(spark, dir, fitDocs) == 0L,
      "the fit corpus must have zero OOV mass against its own model")
    val noop = ModelIndex.maintain(spark, dir)(
      TextQueries.lmSignalMicro(spark, dir, fitDocs)) { _ =>
      fail("no-op")
    }
    assert(noop.ratio == 1.0 && !noop.retrained)
    val drifted = TextQueries.lmSignalMicro(spark, dir, shiftedDocs)
    assert(drifted > 0, "new bigrams must register as OOV mass")
    val res = ModelIndex.maintain(spark, dir)(drifted) { staging =>
      TextQueries.fitLmModel(shiftedDocs, staging)
    }
    assert(res.retrained)
    assert(TextQueries.lmSignalMicro(spark, dir, shiftedDocs) == 0L,
      "refit must cover the shifted corpus' bigrams")
  }

  test("LM hot/cold serving split: a TINY hot head (cold tail through " +
       "the model join) and an all-covering head both reproduce the " +
       "wholesale model join row-for-row — the split tunes IO, never " +
       "rows") {
    val dir = tmp("lmhot")
    TextQueries.fitLmModel(fitDocs, dir)
    val model = ModelIndex.table(spark, dir)
    // the wholesale inner-join twin (the pre-r16 serving shape):
    // explode bigrams, inner join the model, Σ p per doc
    val expect = fitDocs
      .withColumn("__tk", graft.operators.TextAnalysis.tokens(col("text")))
      .select(col("doc_id"),
        explode(when(size(col("__tk")) >= 2,
          expr("""transform(sequence(0, size(__tk) - 2),
                  i -> concat(__tk[i], ' ', __tk[i + 1]))"""))
          .otherwise(array())).as("bigram"))
      .join(model.select("bigram", "p_micro"), "bigram")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("p_micro").as("sp"))
      .select(col("doc_id"), col("n_bigrams"),
        expr("sp DIV n_bigrams").as("lm_score_micro"))
      .collect().map(_.toSeq).toSet
    val nModel = model.count()
    for (head <- Seq(2, nModel.toInt + 5)) {
      val hot = TextQueries.lmHotHead(model, head)
      if (head == 2) assert(hot.size == 2, "tiny head must be tiny")
      else assert(hot.size == nModel, "full head must cover the model")
      val served = TextQueries.lmScoreServed(fitDocs, model, hot)
        .collect().map(_.toSeq).toSet
      assert(served == expect,
        s"hot head of $head diverges from the wholesale join")
    }
    // and the empty head degenerates to the pure join path
    val servedEmpty = TextQueries
      .lmScoreServed(fitDocs, model, Map.empty)
      .collect().map(_.toSeq).toSet
    assert(servedEmpty == expect, "empty hot head diverges")
  }

  test("model-layout ROUTING (declare-once): declared layout and " +
       "in-plan fallback are row-identical for freq scoring and the " +
       "classifier weights; non-model and wrong-name declarations are " +
       "inert") {
    import graft.sources.ModelRouter
    // freq scoring: declared vs nothing declared vs inert extras
    val freqDir = tmp("freqroute")
    TextQueries.fitFreqModel(fitDocs, freqDir)
    val inert = tmp("notamodel") // exists, holds no _model_index.json
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inert))
    def freqRows(declared: Seq[String]) =
      TextQueries.freqScoreFrom(spark, fitDocs, declared)
        .collect().map(_.toSeq).toSeq
    val declaredRows = freqRows(Seq(freqDir))
    assert(declaredRows == freqRows(Nil),
      "declared freq layout changes rows vs the in-plan fold")
    assert(declaredRows == freqRows(Seq(inert, freqDir)),
      "a non-model declaration is not inert")
    assert(declaredRows.nonEmpty)
    // name matching: a token-freq layout must NOT serve a classifier
    // request; the classifier layout must
    val clsDir = tmp("clsroute")
    TextQueries.fitClassifierModel(fitDocs, clsDir)
    assert(ModelRouter.modelDirOf(Seq(freqDir), "quality-classifier")
      .isEmpty)
    assert(ModelRouter.modelDirOf(Seq(inert, freqDir, clsDir),
      "quality-classifier").contains(clsDir))
    // classifier weights: layout-served == in-plan fit, and the
    // declared state never runs the fallback
    val wServed = TextQueries.routedClassifierWeights(spark, fitDocs,
      Seq(clsDir))
    val wInPlan = TextQueries.routedClassifierWeights(spark, fitDocs, Nil)
    assert(wServed == wInPlan,
      "declared classifier LUT != the in-plan fit")
    val wNoFallback = ModelRouter.lutOr(spark, Seq(clsDir),
      "quality-classifier")(fail("fallback ran despite a declaration"))
    assert(wNoFallback == wServed)
  }

  test("loud contracts: lut() refuses a table layout, table() refuses " +
       "a LUT layout, a dense-LUT violation is caught at read") {
    val lmDir = tmp("lm2")
    TextQueries.fitLmModel(fitDocs, lmDir)
    intercept[IllegalArgumentException] {
      ModelIndex.lut(spark, lmDir)
    }
    val clsDir = tmp("cls2")
    TextQueries.fitClassifierModel(fitDocs, clsDir)
    intercept[IllegalArgumentException] {
      ModelIndex.table(spark, clsDir)
    }
    intercept[IllegalArgumentException] {
      ModelIndex.buildLut(spark, Seq.empty, tmp("empty"), "x", "t", 0, 0)
    }
  }
}
