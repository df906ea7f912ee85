package graft

import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis
import graft.operators.{TextDedup, VectorOps}

/** The native codegen expressions must be bit-identical to the composed
  * HOF formulations they replace.
  */
class PlansSpec extends SparkSpec {
  import spark.implicits._

  test("MinHashSig equals the HOF minhash signature bit-for-bit") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(50)
      .select(TextAnalysis.wordNgrams(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
    val diff = docs.select(
      TextDedup.minhashSignature(col("sh"), 64).as("fast"),
      TextDedup.minhashSignatureHof(col("sh"), 64).as("ref")
    ).filter(col("fast") =!= col("ref")).count()
    assert(diff == 0)
  }

  test("PortableMinHashSig equals the HOF portable signature bit-for-bit (plain + salted)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(50)
      .select(TextAnalysis.wordNgrams(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
    val diff = docs.select(
      TextDedup.portableSignature(col("sh"), 16).as("fast"),
      TextDedup.portableSignatureHof(col("sh"), 16).as("ref"),
      graft.plans.PortableMinHashSig(col("sh"), 8, "cr2:").as("fast_s"),
      TextDedup.portableSignatureHof(col("sh"), 8, "cr2:").as("ref_s")
    ).filter(col("fast") =!= col("ref") || col("fast_s") =!= col("ref_s")).count()
    assert(diff == 0)
    // edge semantics, HOF-equal on the full domain: NULL array -> h
    // nulls (outer transform ranges over sequence, never null), empty
    // or all-null array -> h nulls, null elements skipped
    val edge = spark.sql(
      """SELECT sh FROM VALUES
        | (CAST(NULL AS array<string>)),
        | (array()),
        | (array(CAST(NULL AS string))),
        | (array('x', CAST(NULL AS string), 'y')) t(sh)""".stripMargin)
    val bad = edge.select(
      TextDedup.portableSignature(col("sh"), 4).as("fast"),
      TextDedup.portableSignatureHof(col("sh"), 4).as("ref"))
      .filter(!(col("fast") <=> col("ref"))).count()
    assert(bad == 0)
    // interpreted eval (local relation, no whole-stage) agrees too
    val local = Seq(Seq("a", "bb", "ccc")).toDF("sh").select(
      TextDedup.portableSignature(col("sh"), 4).as("fast"),
      TextDedup.portableSignatureHof(col("sh"), 4).as("ref"))
    assert(local.filter(col("fast") =!= col("ref")).count() == 0)
  }

  test("ChunkedMinHashSig equals the composed filter+portableSignature form bit-for-bit") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(50)
      .select(TextAnalysis.wordNgrams(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
    val loRef = filter(col("sh"), x => substring(md5(x), 1, 1) < "8")
    val hiRef = filter(col("sh"), x => substring(md5(x), 1, 1) >= "8")
    // reference side stays the composed HOF form (portableSignature is
    // itself native since round 13)
    val both = docs.select(
      graft.plans.ChunkedMinHashSig(col("sh"), 8).as("cs"),
      when(size(loRef) > 0, TextDedup.portableSignatureHof(loRef, 8)).as("lo_ref"),
      when(size(hiRef) > 0, TextDedup.portableSignatureHof(hiRef, 8)).as("hi_ref"),
      TextDedup.portableSignatureHof(col("sh"), 8).as("full_ref"))
    assert(both.filter(
      !(col("cs.lo") <=> col("lo_ref")) ||
      !(col("cs.hi") <=> col("hi_ref")) ||
      !(col("cs.full") <=> col("full_ref"))).count() == 0)
    // single-chunk docs: lo/hi null handling — a one-shingle doc lands
    // in exactly one chunk and full == that chunk's signature
    val one = spark.sql("SELECT array('only one shingle here') AS sh")
    val r = one.select(graft.plans.ChunkedMinHashSig(col("sh"), 8).as("cs"))
      .selectExpr("cs.lo IS NULL AS lon", "cs.hi IS NULL AS hin",
        "cs.full = coalesce(cs.lo, cs.hi) AS eq")
      .collect()(0)
    assert(r.getAs[Boolean]("lon") != r.getAs[Boolean]("hin"))
    assert(r.getAs[Boolean]("eq"))
  }

  test("NgramShingles equals the HOF shingles on real documents") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val diff = docs.select(
      TextAnalysis.wordNgrams(col("text"), 3).as("fast"),
      TextAnalysis.wordNgramsHof(col("text"), 3).as("ref")
    ).filter(col("fast") =!= col("ref")).count()
    assert(diff == 0)
  }

  test("VecDot equals the HOF dot bit-for-bit on float embeddings") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet").limit(50)
    val pairs = e.select(col("vec_id").as("a"), col("embedding").as("va"))
      .crossJoin(e.select(col("vec_id").as("b"), col("embedding").as("vb")))
      .limit(500)
    val diff = pairs.select(
      VectorOps.dot(col("va"), col("vb")).as("fast"),
      VectorOps.dotHof(col("va"), col("vb")).as("ref")
    ).filter(col("fast") =!= col("ref")).count()
    assert(diff == 0)
  }

  test("SortedKeyDot equals the posting-grain sorted fold bit-for-bit (and codegen == interpreted)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(60)
    val wt = docs
      .select(col("doc_id").as("id"), explode(TextAnalysis.wordNgrams(col("text"), 3)).as("w"))
      .groupBy("id", "w").agg(count(lit(1)).cast("double").as("wt"))
    val vecs = wt.groupBy("id")
      .agg(sort_array(collect_list(struct(col("w"), col("wt").as("t")))).as("arr"))
    val pairs = vecs.select(col("id").as("a"), col("arr").as("va"))
      .crossJoin(vecs.select(col("id").as("b"), col("arr").as("vb"))).limit(400)
    // reference: the old posting-join formulation — shared-key products
    // folded in ascending-key order through sort_array + aggregate
    def ref(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) = {
      val m = map_from_entries(transform(b, x => struct(x.getField("w"), x.getField("t"))))
      aggregate(
        filter(a, x => map_contains_key(m, x.getField("w"))),
        lit(0.0), (acc, x) => acc + x.getField("t") * element_at(m, x.getField("w")))
    }
    val diff = pairs.select(
      graft.plans.SortedKeyDot(col("va"), col("vb")).as("fast"),
      ref(col("va"), col("vb")).as("slow")
    ).filter(col("fast") =!= col("slow")).count()
    assert(diff == 0)
    // self-dot = squared norm, same fold order as the per-doc aggregate
    val selfDiff = vecs.select(
      graft.plans.SortedKeyDot(col("arr"), col("arr")).as("fast"),
      aggregate(col("arr"), lit(0.0), (acc, x) => acc + x.getField("t") * x.getField("t")).as("slow")
    ).filter(col("fast") =!= col("slow")).count()
    assert(selfDiff == 0)
    // interpreted eval (local relation, no codegen) agrees
    import spark.implicits._
    val local = Seq(
      (Seq(("a", 1.5), ("c", 2.0), ("d", -1.0)), Seq(("a", 2.0), ("b", 9.0), ("d", 4.0)))
    ).toDF("x", "y").select(
      graft.plans.SortedKeyDot(
        transform(col("x"), e => struct(e.getField("_1").as("w"), e.getField("_2").as("t"))),
        transform(col("y"), e => struct(e.getField("_1").as("w"), e.getField("_2").as("t")))).as("d"))
    assert(local.collect()(0).getDouble(0) == 1.5 * 2.0 + (-1.0) * 4.0)
  }

  test("SimHashBits equals the HOF simhash bits bit-for-bit") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(50)
    val toks = docs.select(TextAnalysis.tokenize(col("text")).as("t"))
    val diff = toks.select(
      TextDedup.simhashBits(col("t")).as("fast"),
      TextDedup.simhashBitsHof(col("t")).as("ref")
    ).filter(col("fast") =!= col("ref")).count()
    assert(diff == 0)
  }

  test("native inverted index round-trips and matches HOF rebuild output") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(50)
    val canon = docs.select(
      array_join(TextAnalysis.tokenize(col("text")), " ").as("canon"),
      TextAnalysis.rebuildInvertedIndex(TextAnalysis.buildInvertedIndex(col("text"))).as("nat"),
      TextAnalysis.rebuildInvertedIndexHof(TextAnalysis.buildInvertedIndexHof(col("text"))).as("hof")
    )
    assert(canon.filter(col("nat") =!= col("canon") || col("hof") =!= col("canon")).count() == 0)
  }

  test("VecDot interpreted eval path matches as well") {
    val df = Seq((Seq(1.0f, 2.0f, 3.0f), Seq(4.0f, 5.0f, 6.0f))).toDF("a", "b")
    val v = df.select(VectorOps.dot(col("a"), col("b")).as("d")).collect()(0).getDouble(0)
    assert(math.abs(v - 32.0) < 1e-12)
  }

  test("DamerauLevenshtein matches the DuckDB-probed reference values (TRUE Damerau, not OSA)") {
    // probed against duckdb damerau_levenshtein 2026-08-13
    val cases = Seq(
      ("ca", "abc", 2), // OSA would say 3 — the defining TRUE-Damerau case
      ("abc", "acb", 1),
      ("abcdef", "abcfed", 2),
      ("kitten", "sitting", 3),
      ("", "abc", 3),
      ("", "", 0),
      ("a", "a", 0),
      ("ab", "ba", 1),
      ("abab", "baba", 2),
      ("aXbY", "abXY", 1),
      ("üx", "xü", 2) // byte-wise, not codepoint-wise
    )
    val df = cases.toDF("a", "b", "want")
    val bad = df.select(col("a"), col("b"), col("want"),
        graft.plans.DamerauLevenshtein(col("a"), col("b")).as("got"))
      .filter(col("got") =!= col("want"))
    assert(bad.count() == 0, bad.collect().mkString("; "))
    import org.apache.spark.unsafe.types.UTF8String
    for ((a, b, want) <- cases) {
      val got = graft.plans.DamerauLevenshtein.distance(
        UTF8String.fromString(a).getBytes, UTF8String.fromString(b).getBytes)
      assert(got == want, s"eval($a, $b) = $got, want $want")
    }
  }

  test("JaroWinkler matches the DuckDB-probed reference values exactly") {
    // probed against duckdb jaro_winkler_similarity 2026-08-13: bytes,
    // integer transposition halving, 0.7 boost gate, empty -> 0
    val cases = Seq(
      ("martha", "marhta", 0.9611111111111111),
      ("dixon", "dicksonx", 0.8133333333333332),
      ("jellyfish", "smellyfish", 0.8962962962962964),
      ("dwayne", "duane", 0.8400000000000001),
      ("crate", "trace", 0.7333333333333333),
      ("prefix", "prefax", 0.9333333333333333),
      ("a", "ab", 0.85),
      ("abcd", "badc", 0.8333333333333334),
      ("abcdef", "bcadef", 0.9444444444444445), // integer halving, not 0.9166...
      ("abxxxxxxxx", "abyyyyyyyy", 0.4666666666666666), // below gate: no boost
      ("abc", "abc", 1.0),
      ("abc", "", 0.0),
      ("", "", 0.0),
      ("ab", "ba", 0.0),
      ("üx", "üy", 0.8222222222222223) // byte-wise, not codepoint-wise
    )
    val df = cases.toDF("a", "b", "want")
    val bad = df.select(col("a"), col("b"), col("want"),
        graft.plans.JaroWinkler(col("a"), col("b")).as("got"))
      .filter(abs(col("got") - col("want")) > 1e-12)
    assert(bad.count() == 0, bad.collect().mkString("; "))
    // interpreted eval path agrees with codegen
    import org.apache.spark.unsafe.types.UTF8String
    for ((a, b, want) <- cases) {
      val got = graft.plans.JaroWinkler.similarity(
        UTF8String.fromString(a).getBytes, UTF8String.fromString(b).getBytes)
      assert(math.abs(got - want) < 1e-12, s"eval($a, $b) = $got, want $want")
    }
  }

  test("IssnSet equals the HOF journal_issn chain, codegen'd and interpreted") {
    import graft.functions.Normalizers
    import graft.operators.Distillers
    import graft.plans.IssnSet
    // the chain IssnSet replaced, scalars wrapped by a null-dropping filter
    def hofOne(c: org.apache.spark.sql.Column) = filter(array(c), x => x.isNotNull)
    def hofChain(cs: org.apache.spark.sql.Column*) = {
      val all = concat(cs.map(c => coalesce(c, array().cast("array<string>"))): _*)
      val uniq = array_sort(array_distinct(filter(all, Normalizers.isValidIssn _)))
      when(size(uniq) > 0, array_join(uniq, "|"))
    }
    val sorted = "1234 5678|1234-5678|1234\u00e95678|1234\u20135678|1234\uff0d5678|1234\ud83d\ude005678"
    val rows: Seq[(String, String, Seq[String], Seq[String])] = Seq(
      (null, null, null, null),
      (null, null, Seq(), Seq()),
      ("1234-5678", null, Seq(null, "1234-5678", "1234-5678"), Seq(null)),
      // the separator is any one character; lowercase x is not a check digit
      ("1234 5678", "1234X5678", Seq("12345678", "123-45678", "1234-567X"), Seq("1234-567x")),
      ("x1234-5678", "1234-56789", Seq("1234-5678 ", " 1234-5678"), null),
      // `$` matches before one final line terminator; `.` is no terminator
      ("1234-5678\n", "1234-5678\n\n", Seq("\n1234-5678", "1234-5678\r\n"), Seq("1234\n5678")),
      // [0-9] is ASCII only
      ("\u0661\u0662\u0663\u0664-\u0665\u0666\u0667\u0668", "\uff11\uff12\uff13\uff14-5678",
        Seq("1234-\u0665\u0666\u0667\u0668"), null),
      // multi-byte separators: unsigned UTF-8 byte order, where UTF-16
      // order would put the surrogate pair before U+FF0D
      ("1234\uff0d5678", "1234\ud83d\ude005678",
        Seq("1234\u00e95678", "1234\u20135678", "1234 5678", "1234-5678"), Seq("1234\ud83d\ude005678"))
    )
    val dir = java.nio.file.Files.createTempDirectory("issnset").resolve("t").toString
    // through parquet, so no local-relation folding evaluates the projection
    rows.toDF("s1", "s2", "l1", "l2").coalesce(1).write.parquet(dir)
    val cases = spark.read.parquet(dir)
    val modes = Seq(
      Seq("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
        "spark.sql.codegen.wholeStage" -> "true", "spark.sql.codegen.fallback" -> "false"),
      Seq("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
        "spark.sql.codegen.wholeStage" -> "false"))
    for (mode <- modes) {
      val before = mode.map { case (k, _) => k -> spark.conf.getOption(k) }
      mode.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val out = cases.select(
          IssnSet(col("s1"), col("l1"), col("s2"), col("l2")).as("fast"),
          Distillers.journalIssn(Distillers.one(col("s1")), col("l1"),
            Distillers.one(col("s2")), col("l2")).as("wrapped"),
          hofChain(hofOne(col("s1")), col("l1"), hofOne(col("s2")), col("l2")).as("ref")
        ).collect().map(r => (Option(r.getString(0)), Option(r.getString(1)), Option(r.getString(2))))
        assert(out.length == rows.length)
        for ((fast, wrapped, ref) <- out)
          assert(fast == ref && wrapped == ref, s"$mode: fast=$fast wrapped=$wrapped ref=$ref")
        // rows 1, 2, 5 and 7 have no valid candidate
        assert(out.count(_._3.isEmpty) == 4, s"$mode: ${out.toSeq}")
        assert(out.exists(_._3.contains(sorted)), s"$mode: ${out.toSeq}")
        assert(out.exists(_._3.exists(_.startsWith("1234-5678\n|"))), s"$mode: ${out.toSeq}")
      } finally before.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }
}
