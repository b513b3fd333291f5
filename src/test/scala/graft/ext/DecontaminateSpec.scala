package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec

class DecontaminateSpec extends SparkSpec {
  import spark.implicits._

  // test doc 10 is fully embedded in train doc 1; 11 half-overlaps train 2;
  // 12 shares nothing. Shingle k=3.
  private def train = Seq(
    (1L, "alpha beta gamma delta epsilon zeta eta"),
    (2L, "one two three four nine ten eleven twelve"),
    (3L, "completely different content entirely here now")
  ).toDF("doc_id", "text")

  private def test_ = Seq(
    (10L, "beta gamma delta epsilon"),          // 2 shingles, both in doc 1
    (11L, "one two three four five six seven"), // 5 shingles, 2 in doc 2
    (12L, "unrelated words that match nothing anywhere")
  ).toDF("doc_id", "text")

  test("containment is |test∩train| / |test| and respects tau") {
    val got = Decontaminate.contamination(train, test_, "doc_id", "text",
        shingleK = 3, tau = 0.4)
      .as[(Long, Long, Double)].collect().toSet
    assert(got === Set((10L, 1L, 1.0), (11L, 2L, 0.4)))
  }

  test("tau filters the partial overlap out") {
    val got = Decontaminate.contamination(train, test_, "doc_id", "text",
        shingleK = 3, tau = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(got === Set((10L, 1L, 1.0)))
  }

  test("dfCap drops boilerplate shingles and only lowers containment") {
    // "x y z" appears in every train doc -> df 3; cap 2 removes it
    val boiler = Seq(
      (1L, "x y z alpha beta gamma"),
      (2L, "x y z one two three"),
      (3L, "x y z four five six")
    ).toDF("doc_id", "text")
    val probe = Seq((10L, "x y z alpha beta gamma")).toDF("doc_id", "text")
    val uncapped = Decontaminate.contamination(boiler, probe, "doc_id", "text",
      shingleK = 3, tau = 0.0)
    val capped = Decontaminate.contamination(boiler, probe, "doc_id", "text",
      shingleK = 3, tau = 0.0, dfCap = 2)
    val u = uncapped.as[(Long, Long, Double)].collect()
      .map { case (a, b, v) => (a, b) -> v }.toMap
    val c = capped.as[(Long, Long, Double)].collect()
      .map { case (a, b, v) => (a, b) -> v }.toMap
    // capped numerator can only shrink; divisor (test shingles) is uncapped
    assert(c.keySet.subsetOf(u.keySet))
    c.foreach { case (k, v) => assert(v <= u(k) + 1e-9, s"$k: $v > ${u(k)}") }
    // the fully-boilerplate+unique probe still hits doc 1 through its
    // unique shingles after capping
    assert(c.contains((10L, 1L)) && c((10L, 1L)) < u((10L, 1L)))
  }

  test("docs shorter than k shingle to nothing and never pair") {
    val tiny = Seq((20L, "too short")).toDF("doc_id", "text")
    assert(Decontaminate.contamination(train, tiny, "doc_id", "text",
      shingleK = 3, tau = 0.0).count() === 0L)
  }

  test("bloom flags every truly contaminated doc (no false negatives)") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta"),    // contains test 3-grams
      (2L, "one two three four nine ten eleven twelve"),
      (3L, "completely different content entirely here now")
    ).toDF("doc_id", "text")
    val test = Seq((10L, "beta gamma delta epsilon")).toDF("doc_id", "text")
    val flags = Decontaminate.bloomContaminationFlags(corpus, test,
        "doc_id", "text", shingleK = 3)
      .as[(Long, Long, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(flags(1L)._4, "doc sharing test shingles must be flagged")
    assert(flags(1L)._3 >= 2L)
    // fp on 3 clean docs at fpp 1e-4 would be a ~1-in-1000 event; a fail
    // here is a bug, not bad luck (hashes are deterministic)
    assert(!flags(2L)._4 && !flags(3L)._4)
  }

  test("bloom contract row matches the exact containment accounting") {
    val docs = graft.Tables.documents(spark, sf0001)
    val test = docs.filter(col("doc_id") % 50 === 0)
    val row = Decontaminate.bloomContract(docs, test, "doc_id", "text",
      shingleK = 5, fpBound = 0.05).head()
    assert(row.getAs[Long]("n_corpus") === 500L)
    // the planted test docs are themselves in the corpus -> at least them
    assert(row.getAs[Long]("n_contaminated") >= 10L)
    assert(row.getAs[Boolean]("no_missed"))
    assert(row.getAs[Boolean]("fp_bounded"))
  }

  test("empty test set flags nothing") {
    val corpus = train
    val test = train.filter(col("doc_id") < 0)
    val flags = Decontaminate.bloomContaminationFlags(corpus, test,
      "doc_id", "text", shingleK = 3)
    assert(flags.filter(col("flagged")).count() === 0L)
  }

  test("a bloom sized past the default conf clamps keeps its size; the shared conf never moves") {
    val key = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    val before = spark.conf.getOption(key)
    // 5M expected shingles at fpp 1e-4 asks for ~96M bits, past the
    // default 2^26-bit clamp
    val bf = Decontaminate.buildShingleBloom(test_, "doc_id", "text",
      shingleK = 3, expectedShingles = 5000000L)
    assert(bf.length > (1L << 26) / 8 + 1024)
    assert(spark.conf.getOption(key) === before)
  }
}
