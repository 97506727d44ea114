package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{Durations => D}
import graft.plans.{EliminateDurationRoundTrip, FormatF1Duration, GraftExtensions, ParseF1Duration}
import graft.plans.GraftExtensions.{formatF1Duration, parseF1Duration}

/** Native codec expressions: agreement with the composed Column versions,
  * codegen participation, SQL registration, and the round-trip eliminator. */
class PlansSpec extends AnyFunSuite with SharedSparkSpec {

  test("native parse agrees with the composed parser on edges + random corpus") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val edges = Seq("-00:01:02:345", "00:00:00:000", "61:09:999", "01:02:03:456",
      "12:34:56", "nan", "NaT", "", "12:34", "00:00:3.5", " 01:02:345 ",
      "1:2:345", "none", "99:59:59:999", "123:45", ":::", "1::2", "-1:2:3",
      // oversized leading digit groups: both parsers must return NULL (the
      // 20-digit run would throw NumberFormatException from a naive
      // parseLong; the 8-digit run exceeds the 7-digit width bound)
      "1234567:00:00", "12345678:00:00", "99999999999999999999:00:00",
      "-99999999999999999999:01:02:345",
      // blanks: Spark's trim strips only U+0020, and the regexes' `$`
      // accepts exactly one final line terminator
      "\t01:02:345", "01:02:345\t", "01:02:345\u000b", "\u000c1:02:03", "01:02:345\n\n",
      "01:02:345\u2028", "01:02:345\u2029", "01:02:345\u0085", "01:02:345\n",
      "01:02:345\r\n", "01:02:345\r", "01:02:345\n\r", "01:02:345 \n", " 01:02:345\n ",
      "\n", "-\n", "\u00a001:02:345", "\u0661:02:345")
    val randoms = Seq.fill(300) {
      val ms = rnd.nextLong(86400000L * 2) - 86400000L
      FormatF1Duration.format(ms)
    }
    val df = (edges ++ randoms).toDF("s")
      .select(col("s"),
        D.parseDurationToMillis(col("s")).as("composed"),
        parseF1Duration(col("s")).as("native"))
    df.collect().foreach { r =>
      val c = if (r.isNullAt(1)) null else r.getLong(1)
      val n = if (r.isNullAt(2)) null else r.getLong(2)
      assert(c == n, s"mismatch for '${r.getString(0)}': composed=$c native=$n")
    }
  }

  test("native parse agrees with the composed parser on a seeded fuzz of near-durations") {
    import spark.implicits._
    val rnd = new scala.util.Random(20261019)
    val noise = "0123456789:- \t\n\r\u000b\u000c\u0085\u2028\u00a0\u0661aNnTe"
    def pick() = noise(rnd.nextInt(noise.length))
    // valid encodings, then blanks/noise prepended, appended or overwritten
    val corpus = Seq.fill(3000) {
      val ms = rnd.nextLong(86400000L * 2) - 86400000L
      val base = rnd.nextInt(3) match {
        case 0 => FormatF1Duration.format(ms)
        case 1 => f"${ms.abs / 60000}%02d:${ms.abs / 1000 % 60}%02d:${ms.abs % 1000}%03d"
        case _ => Seq.fill(rnd.nextInt(12))(pick()).mkString
      }
      val sb = new StringBuilder(base)
      if (sb.nonEmpty && rnd.nextInt(4) == 0) sb.setCharAt(rnd.nextInt(sb.length), pick())
      Seq.fill(rnd.nextInt(3))(pick()).mkString + sb + Seq.fill(rnd.nextInt(3))(pick()).mkString
    }
    val rows = corpus.toDF("s")
      .select(col("s"),
        D.parseDurationToMillis(col("s")).as("composed"),
        parseF1Duration(col("s")).as("native"))
      .collect()
    val parsed = rows.count(!_.isNullAt(1))
    assert(parsed > 300, s"fuzz too far from valid durations: $parsed parsed")
    val bad = rows.filter(r => r.get(1) != r.get(2))
      .map(r => s"'${r.getString(0).flatMap(c => if (c < ' ' || c > '~') f"<U+${c.toInt}%04X>" else c.toString)}': " +
        s"composed=${r.get(1)} native=${r.get(2)}")
    assert(bad.isEmpty, s"${bad.length} mismatches, first: ${bad.take(5).mkString("; ")}")
  }

  test("native format agrees with composed formatter; parse∘format == id") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val ms = Seq(0L, 1L, -1L, 999L, 86400000L, -86400000L) ++ Seq.fill(300)(rnd.nextLong())
      .map(_ % (86400000L * 30))
    val df = ms.toDF("ms").select(col("ms"),
      D.formatMillisToHhMmSsMs(col("ms")).as("composed"),
      formatF1Duration(col("ms")).as("native"),
      parseF1Duration(formatF1Duration(col("ms"))).as("roundtrip"))
    df.collect().foreach { r =>
      assert(r.getString(1) == r.getString(2), s"format mismatch for ${r.getLong(0)}")
      assert(r.getLong(3) == r.getLong(0), s"roundtrip mismatch for ${r.getLong(0)}")
    }
  }

  test("expressions run inside WholeStageCodegen") {
    // non-foldable source (range), so the expression survives into the
    // physical plan instead of being constant-folded away
    val df = spark.range(100)
      .select(format_string("%02d:%02d:%03d", col("id"), col("id") % 60, col("id") % 1000).as("s"))
      .select(parseF1Duration(col("s")).as("ms"))
      .filter(col("ms") >= 0)
    // "*(n)" marks a WholeStageCodegen stage in the simpleString plan form
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), s"expected whole-stage codegen marker in:\n$plan")
    assert(plan.contains("parse_f1_duration"), s"expected native expr in:\n$plan")
    assert(df.count() == 100)
  }

  test("install registers SQL functions and the optimizer eliminates round-trips") {
    GraftExtensions.install(spark)
    val r = spark.sql(
      "SELECT parse_f1_duration('01:02:345') AS a, format_f1_duration(-62345) AS b").head
    assert(r.getLong(0) == 62345L)
    assert(r.getString(1) == "-00:01:02:345")
    val jw = spark.sql("SELECT jaro_winkler('MARTHA', 'MARHTA') AS jw").head.getDouble(0)
    assert(jw == graft.plans.JaroWinkler.jw("MARTHA".getBytes, "MARHTA".getBytes))
    val nfc = spark.sql("SELECT nfc_normalize('café') AS n").head.getString(0)
    assert(nfc == "café")

    import spark.implicits._
    val df = Seq(1234L).toDF("ms")
      .select(parseF1Duration(formatF1Duration(col("ms"))).as("rt"))
    val optimized = df.queryExecution.optimizedPlan
    val stillThere = optimized.expressions.exists(_.exists(_.isInstanceOf[ParseF1Duration]))
    assert(!stillThere, s"round-trip not eliminated:\n$optimized")
    assert(df.head.getLong(0) == 1234L)
  }

  test("round-trip eliminator preserves parse's overflow rejection at the extremes") {
    import spark.implicits._
    GraftExtensions.install(spark)
    val max = EliminateDurationRoundTrip.MaxRoundTrip
    val ids = Seq(0L, max, -max, max + 1, -(max + 1), Long.MaxValue, Long.MinValue)
    val got = ids.toDF("ms")
      .select(parseF1Duration(formatF1Duration(col("ms"))).as("rt"))
      .collect().map(r => if (r.isNullAt(0)) null else java.lang.Long.valueOf(r.getLong(0)))
    // ground truth: the actual parse∘format composition, no optimizer involved
    val expected = ids.map(x => ParseF1Duration.parseBoxed(FormatF1Duration.format(x)))
    assert(got.toSeq == expected.toSeq,
      s"rewrite diverged from true parse∘format: got=${got.toSeq} exp=${expected.toSeq}")
    assert(got(1) == max && got(2) == -max, "in-range values survive the rewrite")
    assert(got(3) == null && got(5) == null && got(6) == null,
      "format overflow past 7 hour digits must stay NULL under the rewrite")
  }

  test("native token_hashes ≡ composed tokenHashes on edges + random BMP corpus") {
    import spark.implicits._
    import graft.engine.{TextFunctions => T}
    val rnd = new scala.util.Random(11)
    val alphabet = "abcdefghijklmnopqrstuvwxyz0123456789.,!?-_ éüßñ中文    " // spaces weighted
    val edges = Seq("", " ", "   ", "a", " a", "a ", "a b", "  a   b  ",
      "hello world", "tab\tinside token", "newline\nstays", "café résumé",
      "x" * 500, ("word " * 200).trim)
    val randoms = Seq.fill(300)(
      (0 until rnd.nextInt(120)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    val df = (edges ++ randoms).toDF("text")
      .select(col("text"),
        T.tokenHashesComposed(col("text")).as("composed"),
        GraftExtensions.tokenHashes(col("text")).as("native"))
    df.collect().foreach { r =>
      val c = r.getSeq[Long](1)
      val n = r.getSeq[Long](2)
      assert(c == n, s"mismatch for '${r.getString(0).take(60)}': composed=$c native=$n")
    }
    // codegen participation (a parquet-backed frame — the literal one above
    // constant-folds to a LocalTableScan) + SQL registration
    val docs = graft.engine.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(GraftExtensions.tokenHashes(col("text")).as("th"))
    val plan = docs.queryExecution.executedPlan.toString
    assert(plan.contains("token_hashes"), s"expected native expr in:\n$plan")
    // the `*(n)` prefix marks WholeStageCodegen participation in toString
    assert(plan.contains("*(1) Project [token_hashes"),
      s"native expr must stay in codegen:\n$plan")
    GraftExtensions.install(spark)
    val viaSql = spark.sql("SELECT token_hashes('hello world') AS h").head.getSeq[Long](0)
    assert(viaSql.length == 2)
  }

  test("native minhash_sig ≡ composed shingles→minhash on edges + random arrays") {
    import spark.implicits._
    import graft.engine.{TextFunctions => T}
    val rnd = new scala.util.Random(13)
    val edges: Seq[Seq[Long]] = Seq(Seq(), Seq(1L), Seq(1L, 2L), Seq(1L, 2L, 3L),
      Seq(0L, 0L, 0L, 0L), Seq(999999999L, 1000000006L, 5L, 7L))
    val randoms = Seq.fill(200)(
      Seq.fill(rnd.nextInt(60))(rnd.nextLong(1000000007L)))
    val df = (edges ++ randoms).toDF("th")
      .withColumn("sh", T.shinglesFromHashesComposed(col("th")))
      .select(col("th"),
        T.minhashSigFromShingles(col("sh")).as("composed"),
        GraftExtensions.minhashSig(col("th")).as("native"),
        T.shinglesFromHashesComposed(col("th")).as("sh_composed"),
        GraftExtensions.shingleHashes(col("th")).as("sh_native"))
    df.collect().foreach { r =>
      val c = r.getSeq[Any](1)
      val n = r.getSeq[Any](2)
      assert(c == n, s"mismatch for th=${r.getSeq[Long](0).take(8)}: composed=$c native=$n")
      assert(r.getSeq[Long](3) == r.getSeq[Long](4),
        s"shingle mismatch for th=${r.getSeq[Long](0).take(8)}")
    }
    // SQL registration (install already ran in the previous test, but keep
    // this self-contained)
    GraftExtensions.install(spark)
    val viaSql = spark.sql(
      "SELECT minhash_sig(token_hashes('a b c d e')) AS s").head.getSeq[Long](0)
    assert(viaSql.length == 16 && viaSql.forall(_ >= 0L))
  }

  test("native simhash24 ≡ composed votes→fold on edges + random hash arrays") {
    import spark.implicits._
    import graft.engine.{TextFunctions => T}
    val rnd = new scala.util.Random(17)
    val edges: Seq[Seq[Long]] = Seq(Seq(), Seq(0L), Seq((1L << 24) - 1),
      Seq(1L, 2L, 4L, 8L), Seq.fill(10)(16777215L))
    val randoms = Seq.fill(200)(
      Seq.fill(rnd.nextInt(80))(rnd.nextLong(1000000007L)))
    val df = (edges ++ randoms).toDF("th")
      .withColumn("votes", T.simhashVotes(col("th")))
      .select(col("th"),
        T.simhashFromVotes(col("votes")).as("composed"),
        GraftExtensions.simhash24(col("th")).as("native"))
    df.collect().foreach { r =>
      assert(r.getLong(1) == r.getLong(2),
        s"mismatch for th=${r.getSeq[Long](0).take(8)}: composed=${r.getLong(1)} native=${r.getLong(2)}")
    }
    GraftExtensions.install(spark)
    val viaSql = spark.sql("SELECT simhash24(token_hashes('a b c')) AS s").head.getLong(0)
    assert(viaSql >= 0L && viaSql < (1L << 24))
  }

  test("native cosine_sim ≡ composed dot/norm·norm on edges + random vectors") {
    import spark.implicits._
    import graft.engine.{Vectors => V}
    val rnd = new scala.util.Random(23)
    val edges: Seq[(Seq[Double], Seq[Double])] = Seq(
      (Seq(1.0, 0.0), Seq(0.0, 1.0)),          // orthogonal
      (Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0, 3.0)), // identical
      (Seq(1.0, 2.0), Seq(-1.0, -2.0)),        // opposite
      (Seq(1e-150, 1e-150), Seq(1e-150, 1e-150)), // squares near the underflow edge
      (Seq(1.0, 2.0), Seq(1.0, 2.0, 3.0)))     // length mismatch → null both
    val randoms = Seq.fill(300) {
      val n = rnd.nextInt(80) + 1
      (Seq.fill(n)(rnd.nextGaussian()), Seq.fill(n)(rnd.nextGaussian()))
    }
    val rows = (edges ++ randoms).toDF("a", "b")
      .select(V.cosine(col("a"), col("b")).as("native"),
              V.cosineComposed(col("a"), col("b")).as("composed"))
      .collect()
    rows.foreach { r =>
      (r.isNullAt(0), r.isNullAt(1)) match {
        case (true, true) => // both null (length mismatch) ✓
        case (false, false) =>
          val n = r.getDouble(0); val c = r.getDouble(1)
          assert(java.lang.Double.compare(n, c) == 0, // bit-exact, NaN-safe
            s"cosine mismatch: native=$n composed=$c")
        case other => fail(s"null-ness mismatch: $other")
      }
    }
    // degenerate zero-norm case — the ONE documented difference: the native
    // form returns null (try_divide semantics) where composed THROWS under
    // ANSI (session default); a 100 TB job should not die on one zero vector
    val degenerate = Seq((Seq(0.0, 0.0), Seq(1.0, 2.0))).toDF("a", "b")
    assert(degenerate.select(V.cosine(col("a"), col("b"))).head.isNullAt(0))
    intercept[Exception] {
      degenerate.select(V.cosineComposed(col("a"), col("b"))).collect()
    }
    // SQL registration
    GraftExtensions.install(spark)
    val viaSql = spark.sql(
      "SELECT cosine_sim(array(1.0D, 2.0D), array(2.0D, 4.0D)) AS c").head.getDouble(0)
    assert(math.abs(viaSql - 1.0) < 1e-12)
  }

  test("array-consuming native exprs reject nullable-element arrays at analysis") {
    // session-wide SQL registration means hostile inputs like
    // array(1, CAST(NULL AS BIGINT)) can reach the kernels, whose getLong
    // would silently read a null slot as 0 — must be an analysis-time error
    GraftExtensions.install(spark)
    for (fn <- Seq("minhash_sig", "shingle_hashes", "simhash24")) {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(s"SELECT $fn(array(1L, CAST(NULL AS BIGINT), 3L))").collect()
      }
      assert(e.getMessage.contains("non-nullable"), s"$fn: ${e.getMessage.take(200)}")
    }
    // a null ARRAY itself (in a containsNull=false column — the DDL type
    // ARRAY<BIGINT> is containsNull=true and rightly rejected above)
    // propagates as a null result: null-intolerant unary semantics
    import spark.implicits._
    val rows = Seq(Option(Seq(1L, 2L, 3L)), None).toDF("th")
      .select(GraftExtensions.minhashSig(col("th")).as("sig"),
              GraftExtensions.shingleHashes(col("th")).as("sh"),
              GraftExtensions.simhash24(col("th")).as("sim"))
      .collect()
    assert(!rows(0).isNullAt(0) && !rows(0).isNullAt(1) && !rows(0).isNullAt(2))
    assert(rows(1).isNullAt(0) && rows(1).isNullAt(1) && rows(1).isNullAt(2))
  }

  test("jaro_winkler: golden vectors pin the DuckDB-compatible semantics, codegen ≡ eval") {
    import graft.plans.JaroWinkler
    def ref(j: Double, p: Int): Double = j + p * 0.1 * (1.0 - j)
    def jw(a: String, b: String): Double =
      JaroWinkler.jw(a.getBytes("UTF-8"), b.getBytes("UTF-8"))
    // the textbook vectors, with expected values built from the exact
    // IEEE chains the semantics prescribe (these equal DuckDB's
    // jaro_winkler_similarity bit-for-bit — probed when the expression
    // was pinned; the oracle face re-proves it on every candidate pair)
    val mJaro = (6.0 / 6 + 6.0 / 6 + 5 / 6.0) / 3.0
    assert(jw("MARTHA", "MARHTA") == ref(mJaro, 3))
    val dJaro = (4.0 / 5 + 4.0 / 8 + 4 / 4.0) / 3.0
    assert(jw("DIXON", "DICKSONX") == ref(dJaro, 2))
    val wJaro = (4.0 / 6 + 4.0 / 5 + 4 / 4.0) / 3.0
    assert(jw("DWAYNE", "DUANE") == ref(wJaro, 1))
    // boost applies ONLY above jaro 0.7: 4-char prefix but jaro = 2/3 → no boost
    assert(jw("abcdWWWW", "abcdZZZZ") == (4.0 / 8 + 4.0 / 8 + 4 / 4.0) / 3.0)
    // DuckDB conventions: both-empty and one-empty are 0, not 1; a 2-char
    // swap has window 0 → no matches
    assert(jw("", "") == 0.0 && jw("", "abc") == 0.0 && jw("ab", "ba") == 0.0)
    assert(jw("abc", "abc") == 1.0)
    // codegen path (DataFrame select) ≡ direct eval on a perturbed corpus
    import spark.implicits._
    val pairs = (0 until 2000).map { i =>
      val a = s"Customer#${1000000 + i * 37}"
      val b = if (i % 3 == 0) a.replace("Customer#", "Cust#")
              else if (i % 3 == 1) a.reverse else a
      (a, b)
    }
    val got = pairs.toDF("a", "b")
      .select(GraftExtensions.jaroWinkler(col("a"), col("b")).as("jw"))
      .collect().map(_.getDouble(0))
    pairs.zip(got).foreach { case ((a, b), g) =>
      assert(g == jw(a, b), s"codegen/eval divergence on ($a, $b)")
    }
  }

  test("nfc_normalize: ASCII fast path is copy-free, semantics match the JDK, codegen ≡ eval") {
    import graft.plans.NfcNormalize
    import org.apache.spark.unsafe.types.UTF8String
    // ASCII fast path returns the INPUT reference — no String, no copy
    val ascii = UTF8String.fromString("plain ascii text")
    assert(NfcNormalize.normalize(ascii) eq ascii)
    // already-composed non-ASCII also returns the input (isNormalized path)
    val composed = UTF8String.fromString("café")
    assert(NfcNormalize.normalize(composed) eq composed)
    // decomposed composes: e + U+0301 → U+00E9
    assert(NfcNormalize.normalize(UTF8String.fromString("café")).toString == "café")
    // codegen path ≡ the JDK normalizer on a mixed corpus (combining acute,
    // combining ring, already-composed forms, repeated segments), idempotent
    import spark.implicits._
    val docs = (0 until 500).map { i =>
      val accent = if (i % 2 == 0) "é" else "é"
      val ring = if (i % 3 == 0) "Å" else "Å"
      s"doc $i caf$accent $ring " * (i % 3 + 1)
    }
    val got = docs.toDF("t")
      .select(GraftExtensions.nfcNormalize(col("t")).as("n"))
      .collect().map(_.getString(0))
    docs.zip(got).foreach { case (raw, g) =>
      assert(g == java.text.Normalizer.normalize(raw, java.text.Normalizer.Form.NFC),
        s"JDK divergence on: $raw")
      assert(NfcNormalize.normalize(UTF8String.fromString(g)).toString == g,
        "nfc_normalize not idempotent")
    }
    // null propagates
    val n = Seq[(Integer, String)]((1, null)).toDF("i", "t")
      .select(GraftExtensions.nfcNormalize(col("t"))).head
    assert(n.isNullAt(0))
  }
}
