package graft

import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants for the r6 catalog faces — what the oracle hash
  * cannot express: internal consistency between the output columns and the
  * inputs they were derived from. (Determinism/hash parity is covered by
  * DeterminismSpec + the DuckDB gate; these pin the MATH.) */
class FacesInvariantSpec extends AnyFunSuite with SharedSparkSpec {
  private val d = "/root/testdata/sf0.001"

  test("graph_bipartite_project: shared counts bounded by degrees, Jaccard consistent") {
    val rows = SparkEntry.queries("graph_bipartite_project")(spark, d).collect()
    assert(rows.nonEmpty)
    val deg = graft.engine.Tables.load(spark, d, "events")
      .select("user_id", "event_type").distinct()
      .groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    for (r <- rows) {
      val (a, b, shared, jac) = (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))
      assert(a < b, s"pair not ordered: ($a, $b)")
      assert(shared <= math.min(deg(a), deg(b)), s"($a,$b) shared=$shared exceeds a degree")
      val expect = shared.toDouble / (deg(a) + deg(b) - shared)
      assert(math.abs(jac - expect) < 5e-5, s"($a,$b) jaccard=$jac, recomputed $expect")
    }
  }

  test("ts_late_events: only planted-disorder events can be late, lateness positive") {
    val rows = SparkEntry.queries("ts_late_events")(spark, d).collect()
    assert(rows.nonEmpty, "the 25-minute plant must produce late arrivals")
    // total late events ≤ number of planted (event_id % 7 == 3) events
    val planted = graft.engine.Tables.load(spark, d, "events")
      .filter("event_id % 7 = 3").count()
    val totalLate = rows.map(_.getLong(2)).sum
    assert(totalLate <= planted, s"$totalLate late > $planted planted shifts")
    for (r <- rows) {
      assert(r.getLong(2) >= 1 && r.getLong(2) <= r.getLong(1), "n_late out of range")
      assert(r.getLong(3) > 0, "reported user must have positive max lateness")
      // lateness beyond the 10-minute watermark can never exceed the
      // 25-minute plant: the pre-shift feed is time-ordered, so hwm − ts
      // ≤ 25 min ⇒ late_s ≤ 15 min
      assert(r.getLong(3) <= 15 * 60, s"max_late_s ${r.getLong(3)} exceeds the plant bound")
    }
  }

  test("tx_sparse_cosine: cosine within [threshold, 1], pairs ordered, shared-terms positive") {
    val rows = SparkEntry.queries("tx_sparse_cosine")(spark, d).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      assert(r.getLong(0) < r.getLong(1), "pair not ordered a < b")
      assert(r.getLong(2) >= 1, "a reported pair must share at least one banded term")
      val cos = r.getDouble(3)
      assert(cos >= 0.5 && cos <= 1.0 + 5e-5, s"cosine $cos outside [0.5, 1]")
    }
  }

  test("sim_recall_eval: recall = n_hits/10, hits bounded by both rankings") {
    val rows = SparkEntry.queries("sim_recall_eval")(spark, d).collect()
    assert(rows.length == 20, "one row per query in the 20-query sample")
    for (r <- rows) {
      val (nAnn, nHits, recall) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(nAnn <= 10 && nHits <= nAnn,
        s"qid ${r.getLong(0)}: hits $nHits / ann $nAnn out of range")
      assert(math.abs(recall - nHits / 10.0) < 1e-12, "recall must be n_hits/10")
    }
    // the probe must be useful at all: some query finds some true neighbor
    assert(rows.map(_.getLong(2)).sum > 0, "ANN recall is zero across every query")
  }

  test("tx_perplexity_bucket: buckets partition each source, head reads more fluent than tail") {
    val rows = SparkEntry.queries("tx_perplexity_bucket")(spark, d).collect()
    assert(rows.nonEmpty)
    val bySource = rows.groupBy(_.getString(0))
    val eligible = graft.engine.Tables.load(spark, d, "documents")
      .selectExpr("source", "size(filter(split(text, ' '), w -> w != '')) AS n")
      .filter("n >= 2").groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((src, rs) <- bySource) {
      val buckets = rs.map(_.getString(1)).toSet
      assert(buckets.subsetOf(Set("head", "middle", "tail")), s"$src: $buckets")
      assert(rs.map(_.getLong(2)).sum == eligible(src),
        s"$src: bucket counts must partition the >=2-token docs")
      // the 30/70 percentile cut: head can never exceed the cut count + ties,
      // and head's mean NLL must be strictly below tail's (fluency ordering)
      val byB = rs.map(r => r.getString(1) -> r).toMap
      for (h <- byB.get("head"); t <- byB.get("tail"))
        assert(h.getDouble(3) < t.getDouble(3),
          s"$src: head mean_nll ${h.getDouble(3)} !< tail ${t.getDouble(3)}")
    }
  }

  test("st_view_abandonment complements st_view_purchase: abandoned = views - converted") {
    val ab = SparkEntry.queries("st_view_abandonment")(spark, d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val conv = SparkEntry.queries("st_view_purchase")(spark, d).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap // n_views_converted
    assert(ab.nonEmpty)
    for ((user, (nViews, nAbandoned)) <- ab) {
      val converted = conv.getOrElse(user, 0L)
      assert(nAbandoned == nViews - converted,
        s"user $user: $nAbandoned abandoned != $nViews views - $converted converted")
    }
    // every converting user appears in the abandonment frame too (left side)
    assert(conv.keySet.subsetOf(ab.keySet))
  }

  test("opt_join_cardinality: sketch estimate bounds the exact self-join size from above") {
    val r = SparkEntry.queries("opt_join_cardinality")(spark, d).collect().head
    val (nKeys, exact, est, relErr) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    assert(nKeys > 0 && exact >= nKeys, "every key contributes at least c=1 pair mass")
    assert(est >= exact, "bucket-collision bias is non-negative: Σ C(b)² >= Σ c(k)²")
    assert(relErr >= 0.0, "relative error of an upper bound is non-negative")
    // with 8192 buckets the collision inflation at this SF should stay mild
    assert(relErr < 1.0, s"sketch over-estimates by ${relErr}x — bucket count too small")
  }

  test("ts_activity_streak: islands partition active hours, streak bracketed") {
    val rows = SparkEntry.queries("ts_activity_streak")(spark, d).collect()
    assert(rows.nonEmpty)
    val totalActive = rows.map(_.getLong(2)).sum
    val distinctUserHours = graft.engine.Tables.load(spark, d, "events")
      .selectExpr("user_id", "unix_micros(ts) div 3600000000 AS hr").distinct().count()
    assert(totalActive == distinctUserHours,
      "island lengths must partition the distinct (user, hour) set")
    for (r <- rows) {
      val (longest, active, islands) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(longest >= 1 && longest <= active)
      assert(islands >= 1 && islands <= active)
      assert(longest + (islands - 1) <= active, "each extra island needs at least one hour")
    }
  }

  test("sim_nprobe_sweep: recall and scan fraction are monotone in nprobe") {
    val rows = SparkEntry.queries("sim_nprobe_sweep")(spark, d).collect().sortBy(_.getLong(0))
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 4L))
    val hits = rows.map(_.getLong(1)); val scanned = rows.map(_.getLong(3))
    assert(hits.zip(hits.tail).forall { case (a, b) => a <= b },
      "probing more lists can only find more true neighbors")
    assert(scanned.zip(scanned.tail).forall { case (a, b) => a < b },
      "probing more lists strictly widens the scan")
    for (r <- rows) {
      assert(r.getLong(1) <= 200, "hits bounded by 20 queries x top-10")
      assert(r.getDouble(4) > 0.0 && r.getDouble(4) < 1.0, "probe must scan a strict subset")
      assert(math.abs(r.getDouble(2) - r.getLong(1) / 200.0) < 5e-5)
    }
  }

  test("ts_cusum: alarms imply the max crossed the threshold, counts bracketed") {
    val rows = SparkEntry.queries("ts_cusum")(spark, d).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (mx, alarms) = (r.getDouble(1), r.getLong(2))
      assert(mx >= 0.0, "one-sided CUSUM never goes negative")
      if (alarms > 0) {
        assert(mx > 200.0, s"alarms=$alarms but max_cusum=$mx <= threshold")
        assert(!r.isNullAt(3), "first alarm event must be recorded")
      } else assert(r.isNullAt(3), "no alarms -> no first event")
    }
    assert(rows.exists(_.getLong(2) > 0), "this feed plants genuine high-value runs")
  }

  test("tx_epoch_shuffle: epochs permute differently, rank 1 is the arithmetic minimum") {
    val rows = SparkEntry.queries("tx_epoch_shuffle")(spark, d).collect()
    assert(rows.length == 30, "3 epochs x top-10")
    val byEpoch = rows.groupBy(_.getLong(0)).map { case (e, rs) =>
      e -> rs.sortBy(_.getLong(1)).map(_.getLong(2)).toSeq
    }
    assert(byEpoch.keySet == Set(0L, 1L, 2L))
    assert(byEpoch.values.toSet.size == 3, "every epoch must order the corpus differently")
    def pos(id: Long, e: Long) = ((id + 1L + e * 1000003L) * 2654435761L + 17L) % 1000000007L
    val ids = (0L until 500L)
    for ((e, top) <- byEpoch) {
      val expect = ids.sortBy(id => (pos(id, e), id)).take(10)
      assert(top == expect, s"epoch $e: $top != recomputed $expect")
    }
  }

  test("graph_kcore: round 1 peels, the loop certifies a fixpoint, counts only shrink") {
    val rows = SparkEntry.queries("graph_kcore")(spark, d).collect().sortBy(_.getLong(0))
    assert(rows.length == 5)
    val nodes = rows.map(_.getLong(1)); val edges = rows.map(_.getLong(2))
    assert(nodes.zip(nodes.tail).forall { case (a, b) => b <= a }, "peeling cannot add nodes")
    assert(edges.zip(edges.tail).forall { case (a, b) => b <= a }, "peeling cannot add edges")
    // the shallow bipartite core: round 1 does real work, later rounds
    // certify the fixpoint rather than silently looping
    assert(nodes.last == nodes(1) && edges.last == edges(1),
      "rounds 2-5 must agree: the 30-core of this graph settles within two peels")
    assert(nodes.head > 0, "round 1 must retain the high-degree side")
    // edges can legitimately hit zero at tiny SFs (every customer peels;
    // bipartite edges need both endpoints) — monotonicity above is the
    // invariant, not non-emptiness
  }

  test("tx_jsd_drift: JSD within [0, ln 2], vocab accounting consistent") {
    val r = SparkEntry.queries("tx_jsd_drift")(spark, d).collect().head
    val (va, vb, vu, jsd) = (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))
    assert(vu >= math.max(va, vb) && vu <= va + vb, "union bracketed by the parts")
    assert(jsd >= 0.0 && jsd <= math.log(2.0) + 1e-9, s"JSD $jsd outside [0, ln 2]")
    assert(r.getLong(0) > 0 && r.getLong(1) > 0)
  }

  test("dd_lsh_tuning: candidates and recall grow with band count (the S-curve trade)") {
    val rows = SparkEntry.queries("dd_lsh_tuning")(spark, d).collect()
      .sortBy(_.getLong(0))
    assert(rows.length == 3)
    val cands = rows.map(_.getLong(3))
    val recalls = rows.map(_.getDouble(6))
    val thresholds = rows.map(_.getDouble(2))
    assert(cands.zip(cands.tail).forall { case (x, y) => x <= y },
      s"more bands must not shrink the candidate set: ${cands.toSeq}")
    assert(recalls.zip(recalls.tail).forall { case (x, y) => x <= y },
      s"more bands must not lose planted pairs: ${recalls.toSeq}")
    assert(thresholds.zip(thresholds.tail).forall { case (x, y) => x > y },
      "the S-curve threshold falls as bands multiply")
    for (r <- rows) assert(r.getLong(4) <= r.getLong(5), "found bounded by planted")
  }

  test("tx_lm_heldout: scores total (backoff covers OOV), every source evaluated") {
    val rows = SparkEntry.queries("tx_lm_heldout")(spark, d).collect()
    assert(rows.length == 20, "the block split must leave held-out docs in every source")
    var oovTotal = 0L
    for (r <- rows) {
      val (n, oov, nll, rate) = (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))
      assert(n > 0 && oov >= 0 && oov <= n)
      assert(!nll.isNaN && !nll.isInfinite && nll > 0,
        s"${r.getString(0)}: backoff must keep every bigram scoreable, got $nll")
      assert(math.abs(rate - oov.toDouble / n) < 5e-5)
      oovTotal += oov
    }
    // sf0.001's smaller train split leaves genuinely unseen bigrams — the
    // Laplace-unigram backoff path is exercised by real data, not just types
    assert(oovTotal > 0, "expected at least one OOV bigram at sf0.001")
  }

  test("graph_adamic_adar: ordered pairs, support floor, AA bounded by common/ln(2)") {
    val rows = SparkEntry.queries("graph_adamic_adar")(spark, d).collect()
    assert(rows.nonEmpty && rows.length <= 100)
    for (r <- rows) {
      val (s1, s2, common, aa) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(s1 < s2, s"pair not ordered: ($s1, $s2)")
      assert(common >= 3, "support floor")
      // every witness has degree >= 2 (it closed a wedge), so each term is
      // at most 1/ln(2) and positive: 0 < aa <= common / ln 2
      assert(aa > 0.0 && aa <= common / math.log(2.0) + 5e-5,
        s"($s1,$s2) aa=$aa outside (0, common/ln2] for common=$common")
    }
    // ranking is by aa descending
    val aas = rows.map(_.getDouble(3))
    assert(aas.zip(aas.tail).forall { case (x, y) => x >= y }, "not sorted by aa desc")
  }

  test("st_session_repair: repaired fragments ≡ st_sessionize, session-for-session") {
    // the repair face fragments events by a simulated arrival batch and
    // gap-merges the fragment intervals; the whole point is that the result
    // equals direct sessionization EXACTLY (intervals, counts, values) —
    // the append-mode under-merge is fully closed
    val repaired = SparkEntry.queries("st_session_repair")(spark, d).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3), r.getDouble(4)))
    val direct = SparkEntry.queries("st_sessionize")(spark, d).collect()
      .map(r => (r.getLong(0), r.getTimestamp(3), r.getTimestamp(4),
        r.getLong(2), r.getDouble(5)))
    assert(repaired.nonEmpty)
    assert(repaired.sortBy(x => (x._1, x._2.getTime)).toSeq ==
           direct.sortBy(x => (x._1, x._2.getTime)).toSeq,
      "repair(fragments) must equal direct sessionization")
    // and the fragmentation was real: at least one session was stitched
    // from >1 fragment, or the face demonstrates nothing
    val nFrags = SparkEntry.queries("st_session_repair")(spark, d).collect()
      .map(_.getLong(5))
    assert(nFrags.exists(_ > 1), "expected at least one multi-fragment session")
  }

  test("dd_cluster_split: leak-free by construction — no cluster straddles splits; census complete") {
    import org.apache.spark.sql.functions._
    val census = SparkEntry.queries("dd_cluster_split")(spark, d).collect()
    assert(census.map(_.getString(0)).sorted.toSeq == Seq("test", "train", "val"))
    // recompute the doc-level assignment the face derives from and assert
    // the leak property directly: every cluster id maps to EXACTLY one split
    val labels = spark.read.parquet(
      s"/tmp/graft_dedup/cc_${graft.engine.Layouts.tag(d)}")
    val perCluster = labels
      .withColumn("bucket",
        pmod(col("cid"), lit(1000000007L)) * 2654435761L % 1000000007L % 100)
      .withColumn("split",
        when(col("bucket") < 80, "train").when(col("bucket") < 90, "val")
          .otherwise("test"))
      .groupBy("cid").agg(countDistinct("split").as("nsplits"))
    assert(perCluster.filter(col("nsplits") =!= 1).count() == 0,
      "a dedup cluster straddles train/val/test — the leak the face exists to prevent")
    // census totals reconcile with the label snapshot
    assert(census.map(_.getLong(2)).sum == labels.count(), "n_docs census incomplete")
    assert(census.map(_.getLong(1)).sum ==
      labels.select("cid").distinct().count(), "n_clusters census incomplete")
  }

  test("tx_pii_redact: redaction is idempotent and counts match the enrichment plant") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("tx_pii_redact")(spark, d)
    // every doc was enriched with exactly one email and one phone
    val bad = out.filter(col("n_emails") =!= 1 || col("n_phones") =!= 1).count()
    assert(bad == 0, s"$bad docs without exactly one planted email+phone")
    // masking shrank or kept length (the masks are shorter than any match)
    assert(out.filter(col("len_after") >= col("len_before")).count() == 0,
      "redaction must strictly shrink the enriched text")
    // idempotence: no email/phone pattern survives in the redacted text —
    // rebuild the redacted column and scan it again
    val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phonePat = "\\+1-555-[0-9]{4}"
    val redacted = graft.engine.Tables.load(spark, d, "documents")
      .withColumn("full_text",
        concat(col("text"), lit(" contact user"), col("doc_id"), lit("@"),
          col("source"), lit(".example or +1-555-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
      .withColumn("redacted",
        regexp_replace(regexp_replace(col("full_text"), emailPat, "[EMAIL]"),
          phonePat, "[PHONE]"))
    val leftover = redacted.filter(
      size(regexp_extract_all(col("redacted"), lit(emailPat), lit(0))) > 0 ||
      size(regexp_extract_all(col("redacted"), lit(phonePat), lit(0))) > 0).count()
    assert(leftover == 0, s"$leftover docs still carry PII after redaction")
  }

  test("dd_soft_dedup_mass: masses reconcile with the label snapshot; weights are exact reciprocals") {
    val rows = SparkEntry.queries("dd_soft_dedup_mass")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(rows.nonEmpty && rows.exists(_._1 > 1), "expected at least one real duplicate cluster")
    val labels = spark.read.parquet(s"/tmp/graft_dedup/cc_${graft.engine.Layouts.tag(d)}")
    assert(rows.map(_._3).sum == labels.count(), "doc mass census incomplete")
    assert(rows.map(_._5).sum == labels.select("cid").distinct().count().toDouble,
      "effective mass must equal the cluster count (each cluster contributes exactly 1)")
    for ((sz, nc, nd, w, eff) <- rows) {
      assert(nd == nc * sz, s"size-$sz row: n_docs $nd != n_clusters*size")
      assert(math.abs(w - math.rint(1.0 / sz * 1e6) / 1e6) < 1e-12,
        s"size-$sz weight $w is not round(1/size, 6)")
      assert(eff == nc.toDouble)
    }
  }

  test("sim_filtered_ann: post-filter bucket list is a non-empty strict subset scenario") {
    val rows = SparkEntry.queries("sim_filtered_ann")(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val exact = rows.filter(_._1 == "exact_prefilter")
    val bucket = rows.filter(_._1 == "bucket_postfilter")
    assert(exact.length == 5, "pre-filter must always return k")
    assert(bucket.nonEmpty, "bucket path must exercise (coarsen planes if empty)")
    assert(bucket.length <= 5)
    // every bucket result is drawn from the same filtered universe, so its
    // cosine can never beat the exact top-1
    val top = exact.map(_._3).max
    assert(bucket.forall(_._3 <= top), "a bucket hit outscored the exact top-1")
  }

  test("graph_sssp_bounded: 1-hop distances equal the direct offer; relaxation never exceeds it") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("graph_sssp_bounded")(spark, d).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rows.nonEmpty)
    // direct offers from customer 1, recomputed from the facts
    val direct = graft.engine.Tables.load(spark, d, "orders")
      .filter(col("o_custkey") === 1)
      .join(graft.engine.Tables.load(spark, d, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy("l_suppkey")
      .agg(min(floor(col("l_extendedprice") / col("l_quantity") * 256.0 + 0.5))
        .cast("long").as("wq"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(direct.nonEmpty, "customer 1 must trade with someone")
    for ((sp, wq) <- direct) {
      val best = rows.getOrElse(sp, fail(s"direct supplier $sp missing from SSSP output"))
      val one = math.rint(wq / 256.0 * 1e4) / 1e4
      assert(best <= one + 1e-9,
        s"supplier $sp: dist $best exceeds its own direct edge $one — relaxation broken")
    }
    // some multi-hop route must actually beat a direct edge, or the face
    // degenerates to the 1-hop join
    assert(direct.exists { case (sp, wq) => rows(sp) < math.rint(wq / 256.0 * 1e4) / 1e4 - 1e-9 },
      "expected at least one 3-hop route cheaper than the direct offer")
  }

  test("tx_dataset_card: totals reconcile with the corpus; rates and entropy in range") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("tx_dataset_card")(spark, d).collect()
    val docs = graft.engine.Tables.load(spark, d, "documents")
    assert(rows.map(_.getLong(1)).sum == docs.count(), "doc totals incomplete")
    for (r <- rows) {
      val (nd, dup, nl, h) = (r.getLong(1), r.getDouble(5), r.getLong(6), r.getDouble(7))
      assert(dup >= 0.0 && dup <= 1.0, s"dup_rate $dup out of range")
      assert(nl >= 1, "every source has at least one language")
      // Shannon entropy of an nl-way mix is bounded by ln(nl)
      assert(h >= -1e-9 && h <= math.log(nl.toDouble) + 1e-4,
        s"lang_entropy $h outside [0, ln($nl)]")
      assert(nd >= 1)
    }
  }

  test("etl_dq_report: violations bounded by checked counts; the known PK violation surfaces") {
    val rows = SparkEntry.queries("etl_dq_report")(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(rows.length == 5)
    for ((name, n, v, pass) <- rows) {
      assert(v >= 0 && v <= n, s"$name: violations $v outside [0, $n]")
      assert(pass == (v == 0), s"$name: pass flag inconsistent")
    }
    // the synthetic feed's composite key really is non-unique — the report
    // must find it (a suite that can't fail is not a check)
    val pk = rows.find(_._1.startsWith("lineitem.pk_unique")).get
    assert(!pk._4 && pk._3 > 0, "expected the real composite-key violation to surface")
  }

  test("etl_k_anonymity: ladder monotone — generalizing only merges classes") {
    val rows = SparkEntry.queries("etl_k_anonymity")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(0L, 1L, 2L))
    val total = graft.engine.Tables.load(spark, d, "customer").count()
    for ((lvl, nClasses, minClass, nRows, below) <- rows) {
      assert(nRows == total, s"level $lvl: census covers $nRows of $total rows")
      assert(below >= 0 && below <= nRows)
      assert(minClass >= 1 && nClasses >= 1)
    }
    // coarser quasi-identifiers can only merge equivalence classes: class
    // count non-increasing, smallest class non-decreasing, exposure
    // non-increasing up the ladder
    rows.sliding(2).foreach { case Array((_, c1, m1, _, b1), (_, c2, m2, _, b2)) =>
      assert(c2 <= c1, "generalization must not split classes")
      assert(m2 >= m1, "generalization must not shrink the smallest class")
      assert(b2 <= b1, "generalization must not increase re-id exposure")
    }
  }

  test("sim_ivf_incremental: census covers both epochs exactly; growth consistent") {
    val rows = SparkEntry.queries("sim_ivf_incremental")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    val e = graft.engine.Tables.load(spark, d, "embeddings")
    val nBase = e.filter(org.apache.spark.sql.functions.expr("vec_id % 2 = 0")).count()
    val nNew = e.filter(org.apache.spark.sql.functions.expr("vec_id % 2 = 1")).count()
    assert(rows.map(_._2).sum == nBase, "every base vector lands in exactly one list")
    assert(rows.map(_._3).sum == nNew, "every incoming vector lands in exactly one list")
    for ((cl, nb, nn, growth) <- rows) {
      assert(nb >= 1, s"list $cl exists only if base vectors landed in it")
      assert(math.abs(growth - nn.toDouble / nb) < 5e-5, s"list $cl growth inconsistent")
    }
  }

  test("agg_bootstrap_ci: interval brackets the mean symmetrically; se positive") {
    val rows = SparkEntry.queries("agg_bootstrap_ci")(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
    assert(rows.length == 3)
    for ((flag, b, mean, se, lo, hi) <- rows) {
      assert(b == 16L, s"$flag: expected 16 replicas")
      assert(se > 0, s"$flag: zero bootstrap spread means the resample is degenerate")
      assert(lo < mean && mean < hi, s"$flag: CI [$lo, $hi] must bracket $mean")
      // lo/hi are mean ∓ 1.96·se rounded at 4 — recompute within grid slack
      assert(math.abs((hi - lo) - 2 * 1.96 * se) < 2e-3,
        s"$flag: CI width ${hi - lo} vs 3.92·se ${2 * 1.96 * se}")
      // the bootstrap mean of a 6k-row group must sit near the plain mean
      val plain = graft.engine.Tables.load(spark, d, "lineitem")
        .filter(org.apache.spark.sql.functions.col("l_returnflag") === flag)
        .agg(org.apache.spark.sql.functions.avg("l_extendedprice"))
        .head.getDouble(0)
      assert(math.abs(mean - plain) < 6 * se + 1e-6,
        s"$flag: bootstrap mean $mean implausibly far from sample mean $plain")
    }
  }

  test("st_repair_roundtrip: the census certifies exact equality and full event coverage") {
    val r = SparkEntry.queries("st_repair_roundtrip")(spark, d).collect()
    assert(r.length == 1)
    val row = r.head
    val nEvents = graft.engine.Tables.load(spark, d, "events").count()
    assert(row.getBoolean(5), "round-trip must be exact")
    assert(row.getLong(0) == row.getLong(1), "session counts must agree")
    assert(row.getLong(2) == nEvents, "every event must survive the stream→repair pipeline")
    assert(row.getLong(3) == 0 && row.getLong(4) == 0)
  }

  test("ts_interpolate_linear: interp strictly between brackets, gap_len positive") {
    import org.apache.spark.sql.functions.col
    val rows = SparkEntry.queries("ts_interpolate_linear")(spark, d).collect()
    assert(rows.nonEmpty, "an hourly grid over sparse events must contain gaps")
    // every interpolated value lies within [min, max] of the user's hourly
    // means (convexity: a point on the segment between two observations)
    val bounds = graft.engine.Tables.load(spark, d, "events")
      .filter(col("user_id") < 8)
      .groupBy(org.apache.spark.sql.functions.date_trunc("HOUR", col("ts")).as("h"),
        col("user_id"))
      .agg(org.apache.spark.sql.functions.avg("value").as("m"))
      .groupBy("user_id")
      .agg(org.apache.spark.sql.functions.min("m").as("lo"),
        org.apache.spark.sql.functions.max("m").as("hi"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    for (r <- rows) {
      val (u, gapLen, interp) = (r.getLong(0), r.getLong(2), r.getDouble(3))
      assert(gapLen >= 1, "an emitted row is a gap by construction")
      val (lo, hi) = bounds(u)
      assert(interp >= lo - 1e-3 && interp <= hi + 1e-3,
        s"user $u interp $interp outside observed range [$lo, $hi]")
    }
  }

  test("graph_lpa_communities: monotone convergence, communities bounded by nodes") {
    val rows = SparkEntry.queries("graph_lpa_communities")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == 4)
    // community count can only shrink or hold under label adoption (labels
    // are never invented, only copied), and it must have shrunk from the
    // all-singletons start by round 1
    val nodes = rows.map(_._3).max
    for (w <- rows.sliding(2) if w.length == 2)
      assert(w(1)._3 <= w(0)._3, s"n_communities grew ${w(0)._3} -> ${w(1)._3}")
    assert(rows.head._2 > 0, "round 1 must move every customer off its own label")
    for ((round, moved, nc) <- rows) {
      assert(nc >= 1 && nc <= nodes)
      assert(moved >= 0)
    }
  }

  test("dd_prefix_filter: exhaustive ground truth — zero recall loss at the exact threshold") {
    val pf = SparkEntry.queries("dd_prefix_filter")(spark, d)
    val rows = pf.collect()
    assert(rows.nonEmpty, "planted duplicates must verify")
    val nCand = rows.head.getLong(5)
    assert(rows.length <= nCand, "verified pairs cannot exceed candidates")
    for (r <- rows) {
      assert(r.getLong(0) < r.getLong(1), "pair not ordered")
      assert(r.getDouble(4) >= 0.5 - 5e-5)
    }
    // brute-force ALL pairs at sf0.001 and recompute 4-gram Jaccard — the
    // prefix join must surface exactly the qualifying set (completeness is
    // the guarantee banded minhash cannot make; this is it, measured)
    def g4(text: String): Set[Long] = {
      val P = 1000000007L
      val hs = text.split(" ").filter(_.nonEmpty)
        .map(w => w.foldLeft(0L)((a, c) => (a * 131 + c.toLong) % P))
      if (hs.length < 4) Set.empty[Long]
      else hs.sliding(4).map { q =>
        (((q(0) * 131 + q(1)) * 131 + q(2)) * 131 + q(3)) % P
      }.toSet
    }
    val docs = {
      val base = graft.engine.Tables.load(spark, d, "documents")
        .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
      base ++
        base.filter(_._1 % 25 == 0).map { case (i, t) => (i + 1000000L, t + " zz duplicate") } ++
        base.filter(_._1 % 40 == 0).map { case (i, t) => (i + 2000000L, t) }
    }.map { case (i, t) => (i, g4(t)) }
    val truth = (for {
      (a, ga) <- docs; (b, gb) <- docs if a < b && ga.nonEmpty
      inter = (ga & gb).size
      union = (ga | gb).size
      if union > 0 && inter.toDouble / union >= 0.5
    } yield (a, b)).toSet
    val mine = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mine == truth,
      s"missed: ${truth -- mine}; spurious: ${mine -- truth}")
  }

  test("layout_bloom_skipping: no false negatives, minmax blind in-domain, census consistent") {
    val rows = SparkEntry.queries("layout_bloom_skipping")(spark, d).collect()
    assert(rows.length == 20)
    for (r <- rows) {
      val (kind, mm, bloom, actual, fp) =
        (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      // THE Bloom contract: a present key's bits are all set — the filter
      // may over-approximate but can never skip a file that holds the key
      assert(bloom >= actual, s"false negative: bloom=$bloom < actual=$actual")
      assert(fp == bloom - actual)
      if (kind == "present") {
        assert(actual >= 1, "a sampled in-domain key must live somewhere")
        assert(mm >= actual, "the min/max envelope is also over-approximate")
      } else {
        assert(actual == 0, "shifted keys are out of domain by construction")
        assert(mm == 0, "min/max prunes everything out-of-domain")
      }
    }
  }

  test("agg_gini_concentration: matches a driver-side exact recompute") {
    import org.apache.spark.sql.functions.col
    val r = SparkEntry.queries("agg_gini_concentration")(spark, d).collect().head
    val (n, gini, top10) = (r.getLong(0), r.getDouble(1), r.getDouble(2))
    assert(gini >= 0.0 && gini < 1.0)
    assert(top10 >= 0.1 - 5e-5 && top10 <= 1.0, "top decile holds at least its pro-rata share")
    // exact recompute from first principles at sf0.001 scale
    val revs = graft.engine.Tables.load(spark, d, "orders")
      .groupBy("o_custkey")
      .agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.floor(col("o_totalprice") * 16.0 + 0.5)).as("rq"))
      .collect().map(x => (x.getLong(0), x.getLong(1)))
      .sortBy(x => (x._2, x._1)).map(_._2)
    assert(revs.length == n)
    val t = revs.map(BigInt(_)).sum
    val s = revs.zipWithIndex.map { case (x, i) => BigInt(i + 1) * x }.sum
    val expG = 2.0 * s.toDouble / (n.toDouble * t.toDouble) - (n + 1.0) / n
    assert(math.abs(gini - expG) < 1e-3, s"gini $gini vs recomputed $expG")
    val thr = n - n / 10
    val expTop = revs.drop(thr.toInt).map(BigInt(_)).sum.toDouble / t.toDouble
    assert(math.abs(top10 - expTop) < 1e-3, s"top10 $top10 vs recomputed $expTop")
  }

  test("mm_scene_cuts: cut census matches the plant rule, corrupt clips vanish") {
    val rows = SparkEntry.queries("mm_scene_cuts")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    assert(rows.forall(_._1 % 13 != 0), "corrupt-planted clips must be dropped")
    for ((id, nf, cuts, maxd, sl) <- rows) {
      assert(nf == id % 10 + 4)
      assert(sl == id % 4 + 2)
      assert(cuts == (nf - 1) / sl, s"doc $id: cuts $cuts != (${nf - 1})/$sl")
      if (cuts == 0) assert(maxd == 0)
      else assert(maxd >= 16 * 53 && maxd <= 16 * 203,
        s"doc $id: max_diff $maxd outside the +53-shift envelope")
    }
  }

  test("sim_mmr_diversify: greedy order is score-monotone and starts at max relevance") {
    val rows = SparkEntry.queries("sim_mmr_diversify")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.map(_._1).toSeq == (1L to 5L))
    assert(rows.map(_._2).distinct.length == 5, "a doc can be selected once")
    // the first pick is pure relevance; λ=0.5 ⇒ its score is rel/2
    assert(math.abs(rows.head._4 - rows.head._3 / 2) < 1e-4)
    // from step 2 on the greedy max can only fall: pools shrink and the
    // max-sim penalty grows pointwise. (Step 1 → 2 CAN rise: step 1's
    // penalty is zero by definition, while a NEGATIVE similarity to the
    // first pick hands step 2 a diversity bonus — observed at sf0.001.)
    for (w <- rows.drop(1).sliding(2) if w.length == 2)
      assert(w(1)._4 <= w(0)._4 + 1e-9, s"mmr_score rose ${w(0)._4} -> ${w(1)._4}")
  }

  test("etl_dp_noisy_counts: clamp correct, noise from the grid, epsilon constant") {
    val b = 2.0
    val grid = (0 until 33).map { i =>
      val p = (i + 0.5) / 33.0
      math.round(-b * math.signum(p - 0.5) * math.log(1.0 - 2.0 * math.abs(p - 0.5)))
    }.toSet
    val rows = SparkEntry.queries("etl_dp_noisy_counts")(spark, d).collect()
    assert(rows.length == 25)
    for (r <- rows) {
      val (nTrue, noise, nNoisy, eps) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
      assert(grid.contains(noise), s"noise $noise not on the inverse-CDF grid")
      assert(nNoisy == math.max(nTrue + noise, 0L))
      assert(eps == 0.5)
    }
  }

  test("sim_hard_negatives: ranks contiguous, labels differ from query, guard respected") {
    import org.apache.spark.sql.functions.col
    val rows = SparkEntry.queries("sim_hard_negatives")(spark, d).collect()
    assert(rows.nonEmpty)
    val qLabels = graft.engine.Tables.load(spark, d, "embeddings")
      .filter(col("vec_id") < 20)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    val byQ = rows.groupBy(_.getLong(0))
    for ((qid, rs) <- byQ) {
      assert(rs.map(_.getLong(1)).sorted.sameElements(1L to rs.length),
        s"q$qid ranks not contiguous")
      for (r <- rs) {
        assert(r.getInt(3) != qLabels(qid), s"q$qid mined a same-label 'negative'")
        assert(r.getDouble(4) < 0.98, "false-negative guard breached")
        assert(r.getLong(2) != qid)
      }
    }
  }

  test("graph_modularity: degree identities hold and Q is in the admissible band") {
    val rows = SparkEntry.queries("graph_modularity")(spark, d).collect()
    assert(rows.nonEmpty)
    val twoM = rows.map(_.getLong(2)).sum
    assert(twoM % 2 == 0, "symmetric frame degree total must be even")
    for (r <- rows) {
      assert(r.getLong(1) >= 1, "empty community reported")
      assert(2 * r.getLong(3) <= r.getLong(2),
        "intra-edge endpoints cannot exceed the community's degree mass")
    }
    val q = rows.map(_.getDouble(4)).sum
    assert(q >= -0.5 && q <= 1.0, s"modularity $q outside [-1/2, 1]")
  }

  test("tx_preference_pairs: one pair per source, margin consistent, extremes ordered") {
    val rows = SparkEntry.queries("tx_preference_pairs")(spark, d).collect()
    assert(rows.length == 20, "one pair per source")
    for (r <- rows) {
      val (ct, rt, m, n) = (r.getLong(2), r.getLong(4), r.getLong(5), r.getLong(6))
      assert(ct >= rt, "chosen reward below rejected")
      assert(m == ct - rt, "margin inconsistent")
      assert(ct >= 0 && ct <= 10000 && rt >= 0 && rt <= 10000, "TTR4 out of range")
      assert(n >= 1 && n <= 25, s"group size $n out of the 25-docs-per-source layout")
      if (m > 0) assert(r.getLong(1) != r.getLong(3), "distinct docs when margin positive")
    }
  }

  test("tx_annotator_kappa: confusion cells recoverable, integer rounding exact") {
    val rows = SparkEntry.queries("tx_annotator_kappa")(spark, d).collect()
    assert(rows.nonEmpty, "at least one language group")
    for (r <- rows) {
      val (n, agree, ak, bk) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(agree >= 0 && agree <= n, "agreement count out of range")
      assert(ak >= 0 && ak <= n && bk >= 0 && bk <= n, "marginals out of range")
      // cells are recoverable from the outputs: 2·n_both = agree + ak + bk − n
      val twiceBoth = agree + ak + bk - n
      assert(twiceBoth % 2 == 0 && twiceBoth >= 0, "confusion cells inconsistent")
      assert(twiceBoth / 2 <= math.min(ak, bk), "both-keep cell exceeds a marginal")
      // re-derive po4/pe4/kappa4 with the same half-away-from-zero integer
      // rounding the query and oracle use — any drift in the formula trips here
      def rnd(num: Long, den: Long): Long =
        if (num >= 0) (num * 20000 + den) / (den * 2)
        else -((-num * 20000 + den) / (den * 2))
      val peNum = ak * bk + (n - ak) * (n - bk)
      assert(r.getLong(5) == rnd(agree, n), "po4 drift")
      assert(r.getLong(6) == rnd(peNum, n * n), "pe4 drift")
      val kden = n * n - peNum
      if (kden == 0) assert(r.isNullAt(7), "degenerate group must yield NULL kappa")
      else {
        val k4 = r.getLong(7)
        assert(k4 == rnd(n * agree - peNum, kden), "kappa4 drift")
        assert(k4 <= 10000, "kappa above perfect agreement")
      }
    }
  }

  test("tx_chat_template: span arithmetic exact, pairing covers floor(n/2) per source") {
    val rows = SparkEntry.queries("tx_chat_template")(spark, d).collect()
    assert(rows.nonEmpty)
    val prefixFloor = "<|system|> pipeline demo <|user|>  <|assistant|> ".length
    for (r <- rows) {
      val (u, a) = (r.getLong(0), r.getLong(2))
      val (rc, ms, me, mc, lf) =
        (r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))
      assert(a > u, "assistant doc must follow the user doc within its source")
      assert(me == ms + mc, "mask_end inconsistent")
      assert(rc == me + " <|end|>".length, "rendered length inconsistent")
      assert(ms >= prefixFloor, "mask_start below the empty-prompt template floor")
      assert(lf == mc * 10000 / rc && lf >= 0 && lf < 10000, "loss fraction drift")
    }
    // every doc participates in at most one conversation, on one side
    val ids = rows.flatMap(r => Seq(r.getLong(0), r.getLong(2)))
    assert(ids.distinct.length == ids.length, "a doc appears in two conversations")
    val perSource = graft.engine.Tables.load(spark, d, "documents")
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.length == perSource.values.map(_ / 2).sum,
      "conversation count must be floor(docs/2) summed over sources")
  }

  test("tx_calibration_bins: bins partition the corpus and agree with the model face") {
    val rows = SparkEntry.queries("tx_calibration_bins")(spark, d).collect()
    assert(rows.nonEmpty)
    val total = graft.engine.Tables.load(spark, d, "documents").count()
    assert(rows.map(_.getLong(1)).sum == total, "bins must partition the corpus")
    for (r <- rows) {
      assert(r.getLong(2) <= r.getLong(1), "positives exceed bin size")
      val (p4, o4, g4) = (r.getLong(3), r.getLong(4), r.getLong(5))
      assert(o4 >= 0 && o4 <= 10000, "observed rate out of range")
      assert(g4 == math.abs(p4 - o4), "gap inconsistent")
    }
    // cross-face consistency: rebin tx_quality_model's scores (s4 is
    // recoverable exactly from the dyad-free single divide score = s4/1e4)
    // and the per-bin counts must match
    val scores = SparkEntry.queries("tx_quality_model")(spark, d).collect()
      .map(r => math.round(r.getDouble(1) * 10000.0))
    val expected = scores.groupBy(s4 => Math.floorDiv(s4 + 100000, 1000) - 100)
      .view.mapValues(_.length.toLong).toMap
    val got = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected, s"bin histogram mismatch: $got vs $expected")
  }

  test("st_top_paths: prefixes bounded, shares exact, top path replayed") {
    import org.apache.spark.sql.functions.col
    val rows = SparkEntry.queries("st_top_paths")(spark, d).collect()
    assert(rows.nonEmpty && rows.length <= 10)
    val ns = rows.map(_.getLong(1))
    assert(ns.zip(ns.tail).forall { case (a, b) => a >= b }, "counts not descending")
    for (r <- rows) {
      assert(r.getString(0).split(">", -1).length <= 5, "path longer than the 5-event prefix")
      assert(r.getLong(3) == r.getLong(1) * 10000 / r.getLong(2), "share drift")
    }
    // replay every user's 5-event prefix and re-rank
    val evs = graft.engine.Tables.load(spark, d, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2), r.getString(3)))
    val paths = evs.groupBy(_._1).map { case (_, es) =>
      es.sortBy(e => (e._2, e._3)).take(5).map(_._4).mkString(">")
    }.toSeq
    assert(rows.head.getLong(2) == paths.length, "user total drift")
    val counts = paths.groupBy(identity).view.mapValues(_.length.toLong)
    val best = counts.toSeq.map { case (p, n) => (n, p) }
      .sortBy { case (n, p) => (-n, p) }.head
    assert(rows.head.getString(0) == best._2 && rows.head.getLong(1) == best._1,
      "top path disagrees with the replay")
  }

  test("etl_bitemporal: the two-axis truth table holds") {
    val rows = SparkEntry.queries("etl_bitemporal")(spark, d).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows.size == 4, "all four grid cells must be populated")
    val (ee, le, el, ll) = (rows("early_tx_early_v"), rows("late_tx_early_v"),
      rows("early_tx_late_v"), rows("late_tx_late_v"))
    // monotone knowledge: moving either cutoff later can only reveal more
    assert(ee._1 <= le._1 && ee._1 <= el._1 && le._1 <= ll._1 && el._1 <= ll._1,
      "visibility not monotone in the cutoffs")
    assert(ee._2 <= le._2 && ee._2 <= el._2 && le._2 <= ll._2 && el._2 <= ll._2,
      "corrections not monotone in the cutoffs")
    // the late-arriving design (tx = +90 > valid = +60) means extending
    // ONLY transaction time reveals corrections already valid but not yet
    // known — the axis SCD2 alone cannot distinguish. The exact gap is the
    // number of corrections whose order date falls in the 30-day
    // (T−90, T−60] window, recomputed from raw rows.
    import org.apache.spark.sql.functions.{col, date_add, lit}
    val window = graft.engine.Tables.load(spark, d, "orders")
      .filter(col("o_orderkey") % 50 === 0)
      .filter(date_add(col("o_orderdate").cast("date"), 60) <= lit("1997-06-01").cast("date"))
      .filter(date_add(col("o_orderdate").cast("date"), 90) > lit("1997-06-01").cast("date"))
      .count()
    assert(le._2 - ee._2 == window,
      s"transaction-axis gap ${le._2 - ee._2} != recomputed $window")
    // base versions bind on min(T_tx, T_v), so early/early and early/late
    // see the same base population
    assert(ee._1 == el._1, "base visibility should bind on the earlier cutoff")
    // every order is visible at the late/late corner
    val total = graft.engine.Tables.load(spark, d, "orders").count()
    assert(ll._1 == total, "late/late must see the whole table")
  }

  test("agg_weighted_median: crossing property replayed from raw rows") {
    import org.apache.spark.sql.functions.col
    val rows = SparkEntry.queries("agg_weighted_median")(spark, d).collect()
    assert(rows.nonEmpty)
    val raw = graft.engine.Tables.load(spark, d, "lineitem")
      .select(col("l_returnflag"), col("l_extendedprice"),
        col("l_quantity").cast("long"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    for (r <- rows) {
      val (flag, med) = (r.getString(0), r.getDouble(3))
      val grp = raw.filter(_._1 == flag)
      val tot = grp.map(_._3).sum
      assert(r.getLong(2) == tot, s"$flag: total weight drift")
      // the defining property of the lower weighted median: weight at or
      // below it reaches half the total; strictly below it does not
      val wLe = grp.filter(_._2 <= med).map(_._3).sum
      val wLt = grp.filter(_._2 < med).map(_._3).sum
      assert(2 * wLe >= tot, s"$flag: weight ≤ median below half")
      assert(2 * wLt < tot, s"$flag: a smaller price already crosses half")
    }
  }

  test("graph_hits: mutual reinforcement replayed exactly from the edge list") {
    import org.apache.spark.sql.functions.col
    val rows = SparkEntry.queries("graph_hits")(spark, d).collect()
    assert(rows.nonEmpty && rows.length <= 15, "top-15 cap violated")
    val a2s = rows.map(_.getLong(2))
    assert(a2s.zip(a2s.tail).forall { case (a, b) => a >= b }, "auth2 not descending")
    // replay both half-steps from the raw fact join
    val edges = graft.engine.Tables.load(spark, d, "orders")
      .join(graft.engine.Tables.load(spark, d, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").cast("long"), col("l_suppkey").cast("long"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val auth1 = edges.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val hub1 = edges.groupBy(_._1).view
      .mapValues(_.map(e => auth1(e._2)).sum).toMap
    val auth2 = edges.groupBy(_._2).view
      .mapValues(_.map(e => hub1(e._1)).sum).toMap
    for (r <- rows) {
      val k = r.getLong(0)
      assert(r.getLong(1) == auth1(k), s"supplier $k auth1 drift")
      assert(r.getLong(2) == auth2(k), s"supplier $k auth2 drift")
    }
    // the winner must be the true argmax under the same (auth2, -key) order
    val best = auth2.toSeq.map { case (k, v) => (v, -k) }.max
    assert(rows.head.getLong(0) == -best._2, "top authority mismatch")
  }

  test("sim_binary_hamming: packing replayed bit-for-bit, hamming ordered, recall sane") {
    import org.apache.spark.sql.functions.col
    val rows = SparkEntry.queries("sim_binary_hamming")(spark, d).collect()
    assert(rows.length == 5)
    val hs = rows.map(_.getLong(1))
    assert(hs.zip(hs.tail).forall { case (a, b) => a <= b }, "hamming not ascending")
    assert(hs.forall(h => h >= 0 && h <= 64), "hamming outside the 64-bit range")
    // replay the sign-bit packing + hamming for the returned ids from raw vectors
    val vecs = graft.engine.Tables.load(spark, d, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def pack(v: Array[Float]): (Long, Long) = {
      var w0 = 0L; var w1 = 0L
      for (j <- 31 to 0 by -1) w0 = w0 * 2 + (if (v(j) > 0) 1L else 0L)
      for (j <- 63 to 32 by -1) w1 = w1 * 2 + (if (v(j) > 0) 1L else 0L)
      (w0, w1)
    }
    val (qw0, qw1) = pack(vecs(0L))
    for (r <- rows) {
      val (w0, w1) = pack(vecs(r.getLong(0)))
      val h = java.lang.Long.bitCount(w0 ^ qw0) + java.lang.Long.bitCount(w1 ^ qw1)
      assert(r.getLong(1) == h, s"vec ${r.getLong(0)}: hamming ${r.getLong(1)} != replayed $h")
    }
    // the sign sketch must carry signal: its top-5 should overlap the
    // exact float top-5 (at this data the overlap is non-empty)
    assert(rows.exists(_.getBoolean(3)), "binary sketch found nothing from the exact top-5")
  }

  test("tx_ngram_novelty: first doc fully novel, totals reconcile, curve falls") {
    val rows = SparkEntry.queries("tx_ngram_novelty")(spark, d).collect()
    assert(rows.nonEmpty)
    // the first doc (no earlier doc exists) must be 100% novel
    assert(rows.head.getLong(3) == 10000, "first doc must be fully novel")
    for (r <- rows) {
      val (ng, nn, nov) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nn >= 0 && nn <= ng, "novel count out of range")
      assert(nov == nn * 10000 / ng, "novelty ratio drift")
    }
    // novelty is occurrence-weighted: Σ n_novel = occurrences of each gram
    // inside its first document (≥ the distinct-gram vocabulary, which it
    // equals when no first doc repeats a gram)
    import org.apache.spark.sql.functions.{col, explode, min => fmin}
    val T = graft.engine.TextFunctions
    val grams = graft.engine.Tables.load(spark, d, "documents")
      .select(col("doc_id"), explode(
        T.ngramsFromTokens(T.tokens(col("text")), 3)).as("g"))
    val firstSeen = grams.groupBy("g").agg(fmin("doc_id").as("fd"))
    val expectedNovel = grams.join(firstSeen, "g")
      .filter(col("doc_id") === col("fd")).count()
    val distinctGrams = firstSeen.count()
    val totalNovel = rows.map(_.getLong(2)).sum
    assert(totalNovel == expectedNovel, "novel totals disagree with a recount")
    assert(totalNovel >= distinctGrams, "every gram must be novel at least once")
    // novelty should decline on average as the corpus accumulates: the
    // first-quarter mean must exceed the last-quarter mean
    val q = rows.length / 4
    if (q >= 5) {
      val headMean = rows.take(q).map(_.getLong(3)).sum / q
      val tailMean = rows.takeRight(q).map(_.getLong(3)).sum / q
      assert(headMean > tailMean,
        s"novelty curve not falling: head $headMean vs tail $tailMean")
    }
  }

  test("etl_gdpr_access: footprint counts reconcile against the raw tables") {
    import org.apache.spark.sql.functions.{col, broadcast}
    val rows = SparkEntry.queries("etl_gdpr_access")(spark, d).collect()
    assert(rows.nonEmpty)
    val cust = graft.engine.Tables.load(spark, d, "customer")
    assert(rows.length == cust.filter(col("c_custkey") % 100 === 7).count(),
      "one report row per requesting subject")
    val ords = graft.engine.Tables.load(spark, d, "orders")
      .filter(col("o_custkey") % 100 === 7)
    assert(rows.map(_.getLong(2)).sum == ords.count(),
      "order counts must cover every subject order")
    val li = graft.engine.Tables.load(spark, d, "lineitem")
      .join(broadcast(ords.select("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_semi")
    assert(rows.map(_.getLong(3)).sum == li.count(),
      "line-item counts must cover every subject line")
    for (r <- rows) {
      val (no, nl) = (r.getLong(2), r.getLong(3))
      if (no == 0) {
        assert(nl == 0 && r.isNullAt(4) && r.isNullAt(5) && r.getDouble(6) == 0.0,
          "zero-activity subject must prove absence")
      } else {
        // (orders may legitimately carry zero line items in this data)
        assert(nl >= 0, "negative line count")
        assert(r.getLong(4) <= r.getLong(5), "activity span inverted")
        assert(r.getDouble(6) > 0.0, "spend missing for an active subject")
      }
    }
  }

  test("etl_t_closeness: classes partition the table, one class's EMD replayed exactly") {
    val rows = SparkEntry.queries("etl_t_closeness")(spark, d).collect()
    assert(rows.nonEmpty)
    val cust = graft.engine.Tables.load(spark, d, "customer")
      .select(org.apache.spark.sql.functions.col("c_nationkey").cast("long"),
        org.apache.spark.sql.functions.col("c_mktsegment"),
        org.apache.spark.sql.functions.floor(
          org.apache.spark.sql.functions.col("c_acctbal") / 1000).cast("long"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(rows.map(_.getLong(2)).sum == cust.length, "classes must partition the table")
    for (r <- rows) {
      assert(r.getLong(4) >= 0 && r.getLong(4) <= 10000, "t4 out of [0,1]")
      assert(r.getBoolean(5) == (r.getLong(4) > 2000), "breach flag drift")
      assert(r.getLong(3) >= 2, "bucket grid degenerate")
    }
    // replay the first class's scaled-integer EMD from raw rows
    val (nat0, seg0) = (rows.head.getInt(0).toLong, rows.head.getString(1))
    val buckets = cust.map(_._3).distinct.sorted
    val gb = cust.groupBy(_._3).view.mapValues(_.length.toLong).toMap
    val cls = cust.filter(c => c._1 == nat0 && c._2 == seg0)
    val cb = cls.groupBy(_._3).view.mapValues(_.length.toLong).toMap
    val (nTot, nCls, m) = (cust.length.toLong, cls.length.toLong, buckets.length.toLong)
    var dcum = 0L; var sad = 0L
    for (b <- buckets) {
      dcum += cb.getOrElse(b, 0L) * nTot - gb(b) * nCls
      sad += math.abs(dcum)
    }
    val den = (m - 1) * nCls * nTot
    assert(rows.head.getLong(4) == (sad * 20000 + den) / (den * 2),
      s"replayed t4 for class ($nat0, $seg0) disagrees")
  }

  test("tx_langid_confusion: cells partition the corpus, agrees with tx_lang_id rows") {
    val rows = SparkEntry.queries("tx_langid_confusion")(spark, d).collect()
    assert(rows.nonEmpty)
    val total = graft.engine.Tables.load(spark, d, "documents").count()
    assert(rows.map(_.getLong(2)).sum == total, "confusion cells must partition the corpus")
    for (r <- rows) {
      assert(r.getLong(2) <= r.getLong(3), "cell exceeds its gold total")
      assert(r.getLong(4) == r.getLong(2) * 10000 / r.getLong(3), "share drift")
      assert(r.getBoolean(5) == (r.getString(0) == r.getString(1)), "correct flag drift")
    }
    // zh has no stopword list: the router can NEVER predict it, so its
    // gold row has zero correct cells — every zh doc is misrouted (to en
    // at this corpus: the synthetic langs share a token pool) or 'und'.
    // The census makes that blind spot measurable instead of silent.
    val zh = rows.filter(_.getString(0) == "zh")
    assert(zh.nonEmpty && zh.forall(r => !r.getBoolean(5)),
      "zh blind spot not surfaced")
    assert(!rows.exists(_.getString(1) == "zh"), "router predicted an unroutable lang")
    // cell counts must equal a regroup of the per-doc tx_lang_id output
    val perDoc = SparkEntry.queries("tx_lang_id")(spark, d).collect()
      .groupBy(r => (r.getString(1), r.getString(6))).view.mapValues(_.length.toLong).toMap
    val cells = rows.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(cells == perDoc, "confusion census disagrees with the per-doc face")
  }

  test("ts_backtest_holt: bias bounded by MAE, one user replayed exactly") {
    val rows = SparkEntry.queries("ts_backtest_holt")(spark, d).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      assert(r.getLong(1) >= 4 && r.getLong(2) == 3, "origin census wrong")
      // |mean(e)| <= mean(|e|); allow one 1e-4 quantum for independent rounding
      assert(math.abs(r.getDouble(4)) <= r.getDouble(3) + 1e-4,
        s"user ${r.getLong(0)}: |bias| exceeds MAE")
    }
    // replay the smallest user's series locally and pin its row
    val uid = rows.head.getLong(0)
    val evs = graft.engine.Tables.load(spark, d, "events")
      .filter(org.apache.spark.sql.functions.col("user_id") === uid)
      .select(org.apache.spark.sql.functions.unix_micros(
          org.apache.spark.sql.functions.col("ts")).as("tus"),
        org.apache.spark.sql.functions.col("event_id"),
        org.apache.spark.sql.functions.col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(e => (e._1, e._2))
    var l = evs.head._3; var b = 0.0
    var e1 = 0.0; var e2 = 0.0; var e3 = 0.0
    val n = evs.length
    for (i <- 1 until n) {
      val x = evs(i)._3
      val fc = l + b
      if (i == n - 3) e1 = fc - x
      else if (i == n - 2) e2 = fc - x
      else if (i == n - 1) e3 = fc - x
      val l1 = 0.5 * x + 0.5 * (l + b); b = 0.3 * (l1 - l) + 0.7 * b; l = l1
    }
    val mae = (math.abs(e1) + math.abs(e2) + math.abs(e3)) / 3.0
    assert(math.abs(rows.head.getDouble(3) - mae) < 5e-5,
      s"replayed MAE $mae vs face ${rows.head.getDouble(3)}")
  }

  test("dd_winnowing: density near 2/(w+1), planted duplicates find partners") {
    val rows = SparkEntry.queries("dd_winnowing")(spark, d).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (ns, nf, dens) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nf >= 1 && nf <= ns - 4 + 1, "fingerprint count outside window bounds")
      assert(dens == nf * 10000 / ns, "density drift")
    }
    // corpus-wide density should sit near the winnowing expectation
    // 2/(w+1) = 0.4 (dedup'd selection pushes it below the bound)
    val mean = rows.map(_.getLong(3)).sum / rows.length
    assert(mean >= 1500 && mean <= 5000, s"mean density4 $mean implausible for w=4")
    // the winnowing guarantee: every planted exact copy (+2M) and
    // appended-suffix near-dup (+1M) shares a ≥6-token run with its base,
    // so BOTH sides must report at least one partner
    // (skip variants whose base was too short to produce a window at all)
    val partnerOf = rows.map(r => r.getLong(0) -> r.getLong(4)).toMap
    for ((id, np) <- partnerOf if id >= 1000000;
         baseNp <- partnerOf.get(id % 1000000)) {
      assert(np >= 1, s"planted duplicate $id found no partner")
      assert(baseNp >= 1, s"base of $id found no partner")
    }
  }

  test("dd_nfc_normalize: every decomposed doc converges, lengths reconcile per-row") {
    val rows = SparkEntry.queries("dd_nfc_normalize")(spark, d).collect()
    assert(rows.nonEmpty)
    val eCounts = graft.engine.Tables.load(spark, d, "documents")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.expr(
          "length(text) - length(replace(text, 'e', ''))").cast("long").as("ne"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (r <- rows) {
      val (id, lo, ld, ln) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(ld - lo == eCounts(id), "decomposed length must grow by exactly #e")
      assert(ln == lo, "NFC must restore the original codepoint count")
      assert(r.getBoolean(4), s"doc $id did not converge to the composed form")
      assert(r.getString(5).length == 32, "md5 of the normalized string missing")
    }
  }

  test("tx_dsir_weights: ordered top-15, weights bounded, target language dominates") {
    val rows = SparkEntry.queries("tx_dsir_weights")(spark, d).collect()
    assert(rows.length == 15)
    val ws = rows.map(_.getDouble(4))
    assert(ws.zip(ws.tail).forall { case (a, b) => a >= b }, "weights not non-increasing")
    // equal weights must be doc_id-tie-broken ascending
    for (Array(a, b) <- rows.sliding(2))
      if (a.getDouble(4) == b.getDouble(4))
        assert(a.getLong(0) < b.getLong(0), "tie not broken by doc_id")
    for (r <- rows) assert(r.getLong(3) >= 1, "a weighted doc must have features")
    // importance resampling toward lang='en' must surface mostly-en docs:
    // the en slice is ~39% of the corpus but should be a strong majority
    // of the top-15 (measured 12/15 at sf0.001)
    val en = rows.count(_.getString(1) == "en")
    assert(en >= 9, s"only $en/15 top-weighted docs are en — selection has no pull")
  }

  test("sim_maxsim: ranks contiguous, scores monotone, MaxSim dominates the aligned sum") {
    import org.apache.spark.sql.functions.col
    val rows = SparkEntry.queries("sim_maxsim")(spark, d).collect()
    assert(rows.length == 40, "8 queries x top-5")
    val vecs = graft.engine.Tables.load(spark, d, "embeddings")
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    for ((qid, rs) <- rows.groupBy(_.getLong(0))) {
      assert(rs.map(_.getLong(1)).sorted.sameElements(1L to 5L), s"q$qid ranks not 1..5")
      val scores = rs.sortBy(_.getLong(1)).map(_.getDouble(3))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
        s"q$qid scores not non-increasing")
      for (r <- rs) {
        val (doc, maxsim) = (r.getLong(2), r.getDouble(3))
        assert(doc != qid, "self excluded")
        assert(maxsim <= 4.0 + 5e-5 && maxsim >= -4.0 - 5e-5, s"score $maxsim out of [-4, 4]")
        // max over doc tokens dominates the aligned (qt = dt) token match
        val (qv, dv) = (vecs(qid), vecs(doc))
        val aligned = (0 until 4).map(t =>
          cos(qv.slice(t * 16, t * 16 + 16), dv.slice(t * 16, t * 16 + 16))).sum
        assert(maxsim >= aligned - 5e-5,
          s"q$qid doc$doc maxsim $maxsim below aligned sum $aligned")
      }
    }
  }

  test("ts_autocorr: |acf| <= 1, pairs bounded by days present") {
    val rows = SparkEntry.queries("ts_autocorr")(spark, d).collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2, 3, 7, 14), "one row per lag, ordered")
    val nDays = graft.engine.Tables.load(spark, d, "orders")
      .select(org.apache.spark.sql.functions.to_date(
        org.apache.spark.sql.functions.col("o_orderdate"))).distinct().count()
    // the series has GAP days at small sf, so pair counts are NOT monotone
    // in lag (day+3 can land on a present day more often than day+2) —
    // only the presence bound holds
    for (r <- rows) {
      val (lag, nPairs, acf) = (r.getInt(0), r.getLong(1), r.getDouble(2))
      assert(nPairs >= 1 && nPairs <= nDays - 1,
        s"lag $lag: $nPairs pairs outside [1, ${nDays - 1}]")
      assert(math.abs(acf) <= 1.0, s"lag $lag: acf $acf outside [-1, 1]")
    }
  }

  test("dd_record_linkage: FS classes reconcile against the planted B-source structure") {
    val rows = SparkEntry.queries("dd_record_linkage")(spark, d).collect()
    assert(rows.nonEmpty)
    val c = graft.engine.Tables.load(spark, d, "customer")
    val nEven = c.filter("c_custkey % 2 = 0").count()
    val nDamaged = c.filter("c_custkey % 6 = 0").count() // even by construction
    val (pairs, mtch, poss, tru, tp, fp) = rows.foldLeft((0L, 0L, 0L, 0L, 0L, 0L)) {
      case ((a, b, cc, dd, e, f), r) =>
        (a + r.getLong(1), b + r.getLong(2), cc + r.getLong(3),
         dd + r.getLong(4), e + r.getLong(5), f + r.getLong(6))
    }
    // blocking recall is total: every planted re-observation (clean or
    // damaged) survives the (nation, segment, last-digit) block
    assert(tru == nEven, s"true pairs $tru != planted re-observations $nEven")
    // match class = exactly the clean re-observations: precision 1.0
    assert(fp == 0, s"false positives $fp")
    assert(tp == mtch, s"tp $tp != n_match $mtch with fp=0")
    assert(mtch == nEven - nDamaged, s"match class $mtch != clean re-observations")
    // the damaged re-observations land exactly in the clerical-review band
    assert(poss == nDamaged, s"possible class $poss != damaged plants $nDamaged")
    // blocking actually blocked: compared pairs well under the block-free
    // quadratic (|A| * |B| = nCust * (nCust/2 * 2))
    val nCust = c.count()
    assert(pairs < nCust * nCust / 10, s"$pairs pairs — blocking ineffective")
    for (r <- rows) {
      assert(r.getLong(2) + 0L <= r.getLong(1), "n_match > n_pairs")
      assert(r.getLong(5) <= r.getLong(4), "tp > true")
    }
  }

  test("etl_deletion_vectors: bitmap read path conserves rows, deleted never surface") {
    val rows = SparkEntry.queries("etl_deletion_vectors")(spark, d).collect()
    assert(rows.nonEmpty)
    val o = graft.engine.Tables.load(spark, d, "orders")
    val total = o.count()
    val deleted = o.filter("o_orderstatus = 'F' AND o_orderkey % 7 = 0").count()
    val live = rows.map(_.getLong(1)).sum
    assert(rows.forall(_.getLong(4) == 0L), "a deleted row surfaced through the bitmap")
    assert(rows.forall(_.getLong(2) == deleted), s"deleted_rows != $deleted")
    assert(live + deleted == total, s"live $live + deleted $deleted != $total")
    val dvWords = rows.head.getLong(3)
    // sidecar word count: at least ceil(deleted/32) (dense packing floor),
    // at most one word per deleted row (fully sparse)
    assert(dvWords >= (deleted + 31) / 32 && dvWords <= deleted,
      s"dv_words $dvWords outside [${(deleted + 31) / 32}, $deleted]")
  }

  test("mm_blur_score: exactly the ramp plants flag blurry, corrupt clips vanish") {
    val rows = SparkEntry.queries("mm_blur_score")(spark, d).collect()
    assert(rows.nonEmpty)
    val ids = rows.map(_.getLong(0)).toSet
    assert(ids.forall(_ % 13 != 0), "a corrupt (truncated) image survived decode")
    for (r <- rows) {
      val (id, w, h, nTerms, grad, meanGrad, blurry) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
         r.getLong(4), r.getDouble(5), r.getBoolean(6))
      assert(nTerms == h * (w - 1) + (h - 1) * w, s"doc $id n_terms wrong")
      assert(blurry == (id % 5 == 0), s"doc $id blurry=$blurry but plant says ${id % 5 == 0}")
      assert(math.abs(meanGrad - grad.toDouble / nTerms) < 5e-5, s"doc $id mean_grad off")
    }
  }

  test("mm_audio_clipping: clip counts match the plant-rule density window") {
    val rows = SparkEntry.queries("mm_audio_clipping")(spark, d).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getLong(0) % 23 != 0), "a truncated clip survived decode")
    for (r <- rows) {
      val (id, n, clipped, flag) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(4))
      val m = 11 + id % 10
      // multiples of m in a length-n window: floor or ceil of n/m
      assert(clipped == n / m || clipped == n / m + 1,
        s"doc $id: $clipped clipped outside {${n / m}, ${n / m + 1}} for m=$m n=$n")
      assert(flag == (clipped * 100 > n * 5), s"doc $id flag inconsistent")
    }
  }

  test("dd_sorted_neighborhood: window recall is total, candidates linearly bounded") {
    val rows = SparkEntry.queries("dd_sorted_neighborhood")(spark, d).collect()
    assert(rows.nonEmpty)
    val c = graft.engine.Tables.load(spark, d, "customer")
    val nEven = c.filter("c_custkey % 2 = 0").count()
    val nDamaged = c.filter("c_custkey % 6 = 0").count()
    val found = rows.map(_.getLong(2)).sum
    // side sorts A-before-B on sort-key ties, so the forward-only window
    // must find EVERY planted re-observation
    assert(found == nEven, s"SNM found $found true pairs, planted $nEven")
    assert(rows.map(_.getLong(3)).sum == nEven - nDamaged, "match class != clean plants")
    assert(rows.map(_.getLong(4)).sum == nDamaged, "possible class != damaged plants")
    assert(rows.forall(_.getLong(5) == 0L), "SNM produced a false positive")
    // w=4 forward window: at most 4 candidates per A record — linear, never
    // quadratic, the property that makes SNM a scale alternative to blocking
    assert(rows.map(_.getLong(1)).sum <= 4 * c.count(),
      "candidate count exceeded the w*|A| window bound")
  }

  test("dd_jw_comparator: every true pair scores >= 0.95, bands partition the pairs") {
    val rows = SparkEntry.queries("dd_jw_comparator")(spark, d).collect()
    assert(rows.nonEmpty)
    val c = graft.engine.Tables.load(spark, d, "customer")
    val nEven = c.filter("c_custkey % 2 = 0").count()
    // graded comparator recovers what exact equality drops: clean pairs at
    // 1.0 AND abbreviated names (~0.956) all land in the >= 0.95 band
    assert(rows.map(_.getLong(5)).sum == nEven,
      "every planted re-observation must score >= 0.95")
    for (r <- rows) {
      val (n, ge95, mid, lt90, mean) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(6))
      assert(ge95 + mid + lt90 == n, "bands must partition the candidate pairs")
      assert(mean > 0.0 && mean <= 1.0, s"mean_jw $mean outside (0, 1]")
    }
  }

  test("etl_l_diversity: census reconciles against the raw QI classes") {
    val rows = SparkEntry.queries("etl_l_diversity")(spark, d).collect()
    assert(rows.length == 5, "one row per market segment")
    val c = graft.engine.Tables.load(spark, d, "customer")
    val nClasses = c.select("c_nationkey", "c_mktsegment").distinct().count()
    assert(rows.map(_.getLong(1)).sum == nClasses, "class counts don't cover all QI classes")
    for (r <- rows) {
      val (minDiv, below, risk, homog, ldiv) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getBoolean(6))
      assert(minDiv >= 1)
      assert(homog <= below, "homogeneous classes must be counted among below-l")
      assert(ldiv == (minDiv >= 3), "l_diverse flag inconsistent with min diversity")
      assert((below == 0) == (risk == 0), "rows_at_risk inconsistent with classes_below_l")
    }
  }

  test("graph_random_walks: walks never die, parity pins returns to even steps") {
    val rows = SparkEntry.queries("graph_random_walks")(spark, d).collect()
    assert(rows.length == 3, "one census row per step")
    val nWalks = rows.map(_.getLong(1)).distinct
    assert(nWalks.length == 1,
      "every node of the symmetric graph has a neighbor — no walk may die")
    for (r <- rows) {
      val (step, n, nodes, back) =
        (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nodes >= 1 && nodes <= n, s"step $step: $nodes occupied nodes vs $n walks")
      // the trading graph is bipartite: a walk can only be back at its
      // (even, customer-side) start after an even number of hops
      if (step % 2 == 1) assert(back == 0, s"odd step $step returned $back walks to start")
    }
    // step 1 lands on the supplier side: far fewer distinct nodes than walks
    assert(rows(0).getLong(2) < rows(0).getLong(1),
      "customers outnumber suppliers — step 1 must collide on the supplier side")
  }

  test("tx_bleu_eval: clipped precisions bounded, brevity penalty strictly penalizes") {
    val rows = SparkEntry.queries("tx_bleu_eval")(spark, d).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (src, refT, candT, candBg, clip1, clip2, p1, p2, bleu) =
        (r.getString(0), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6), r.getDouble(7), r.getDouble(8), r.getDouble(9))
      assert(candT < refT, s"$src: dropping every 7th token must shorten candidates")
      assert(clip1 <= candT && clip2 <= candBg, s"$src: clipped counts exceed candidate grams")
      assert(p1 > 0 && p1 < 1, s"$src: p1=$p1 — reversal plant must cost some matches")
      assert(p2 > 0 && p2 < 1, s"$src: p2=$p2")
      // bp = exp(1 - ref/cand) < 1 since cand < ref, so bleu < sqrt(p1·p2)
      assert(bleu < math.sqrt(p1 * p2) + 1e-9, s"$src: bleu=$bleu not penalized for brevity")
      assert(bleu > 0, s"$src: bleu must stay positive")
    }
  }

  test("tx_rouge_lcs: LCS bounded by the bag matching (rougeL_r <= rouge1_r per source)") {
    val lcs = SparkEntry.queries("tx_rouge_lcs")(spark, d).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getLong(3), r.getLong(4),
        r.getDouble(5), r.getDouble(6), r.getDouble(7))).toMap
    val rn = SparkEntry.queries("tx_rouge_eval")(spark, d).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getLong(4), r.getDouble(6))).toMap
    assert(lcs.nonEmpty && lcs.keySet == rn.keySet,
      "the two rouge faces must cover the same sources (shared framing)")
    for ((src, (refT, candT, lcsT, rL, pL, fL)) <- lcs) {
      val (refTN, clip1, rouge1r) = rn(src)
      assert(refT == refTN, s"$src: shared framing must agree on ref token mass")
      // an order-constrained matching can never beat the bag matching
      assert(lcsT <= clip1, s"$src: lcs=$lcsT exceeds the clipped unigram matches $clip1")
      assert(rL <= rouge1r + 1e-9, s"$src: rougeL_r=$rL > rouge1_r=$rouge1r")
      // corruption keeps most tokens in order — LCS must recover plenty
      assert(lcsT > 0 && rL > 0.5, s"$src: rougeL_r=$rL implausibly low")
      assert(pL >= rL, s"$src: cand is shorter, so precision >= recall")
      assert(fL > 0 && fL <= 1, s"$src: f=$fL out of range")
    }
  }

  test("graph_ppr: teleport mass conserved, seeds hold the floor, reach bounded") {
    val rows = SparkEntry.queries("graph_ppr")(spark, d).collect()
    assert(rows.length == 20)
    val (nPos, totalMass) = (rows.head.getLong(3), rows.head.getDouble(4))
    // the symmetric graph has no dangling nodes, so each PPR round
    // conserves total mass exactly: sum(rank) == |seeds ∩ graph| forever
    val seeds = graft.engine.Tables.load(spark, d, "customer")
      .filter("c_nationkey = 3").select("c_custkey")
    val orders = graft.engine.Tables.load(spark, d, "orders")
      .select(org.apache.spark.sql.functions.col("o_custkey").as("c_custkey")).distinct()
    val nSeeds = seeds.join(orders, "c_custkey").count()
    assert(math.abs(totalMass - nSeeds) < 0.01,
      s"total PPR mass $totalMass drifted from the $nSeeds in-graph seeds")
    assert(nPos >= nSeeds, "every in-graph seed keeps rank >= 0.15 > 0")
    for (r <- rows) {
      val (node, side, rank) = (r.getLong(0), r.getString(1), r.getDouble(2))
      assert(rank > 0.0, s"node $node in top-20 with nonpositive rank")
      assert(side == (if (node % 2 == 0) "customer" else "supplier"))
    }
  }

  test("ts_holt_winters: forecast decomposes, day counts reconcile, seasons learned") {
    import org.apache.spark.sql.functions.{col, to_date}
    val rows = SparkEntry.queries("ts_holt_winters")(spark, d).collect()
    assert(rows.nonEmpty)
    val days = graft.engine.Tables.load(spark, d, "events")
      .select(col("event_type"), to_date(col("ts")).as("day")).distinct()
      .groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    for (r <- rows) {
      val et = r.getString(0)
      assert(r.getLong(1) == days(et), s"$et: n_days diverges from the raw day count")
      val (level, trend, fc, s1) =
        (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(math.abs(fc - (level + trend + s1)) < 2e-4,
        s"$et: forecast $fc != level + trend + s_plus1 = ${level + trend + s1}")
      // 13+ weekly cycles of data: at least one seasonal slot must have
      // moved off its zero initialization
      assert((5 to 11).exists(i => math.abs(r.getDouble(i)) > 1e-6),
        s"$et: all seasonal slots still at init — the gamma update never ran")
    }
  }

  test("emb_silhouette: clusters partition the corpus, scores bounded, cohesion visible") {
    val rows = SparkEntry.queries("emb_silhouette")(spark, d).collect()
    assert(rows.nonEmpty && rows.length <= 8, "at most k=8 clusters")
    val nVecs = graft.engine.Tables.load(spark, d, "embeddings").count()
    assert(rows.map(_.getLong(1)).sum == nVecs,
      "every vector must land in exactly one cluster")
    for (r <- rows) {
      val (cl, mean, mn, mx) =
        (r.getLong(0), r.getDouble(2), r.getDouble(3), r.getDouble(4))
      // centroid silhouette: b >= a by construction, so s in [0, 1]
      assert(mn >= -1e-9 && mx <= 1.0 + 1e-9, s"cluster $cl: scores out of [0,1]")
      assert(mn <= mean + 1e-4 && mean <= mx + 1e-4,
        s"cluster $cl: mean $mean outside [min, max] = [$mn, $mx]")
    }
    // the synthetic embeddings are near-uniform, so cohesion is weak but
    // must be strictly positive (b > a for every point not ON a midplane),
    // and every cluster must contain at least one boundary point (min ~ 0)
    assert(rows.forall(_.getDouble(2) > 0.0),
      "a cluster with zero mean silhouette means scoring collapsed")
    assert(rows.exists(_.getDouble(4) > 0.1),
      "no cluster has even one interior point — the Lloyd fit is broken")
  }

  test("graph_jaccard_linkpred: scores reconcile with capped commons and raw degrees") {
    val rows = SparkEntry.queries("graph_jaccard_linkpred")(spark, d).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (s1, s2, common, d1, d2, j) = (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))
      assert(s1 < s2, s"pair not ordered: ($s1, $s2)")
      // common counts only sub-cap wedges, so it is bounded by BOTH raw degrees
      assert(common <= math.min(d1, d2), s"($s1,$s2) common=$common exceeds a degree")
      val expect = common.toDouble / (d1 + d2 - common)
      assert(math.abs(j - expect) < 5e-5, s"($s1,$s2) jaccard=$j, recomputed $expect")
      assert(j > 0 && j <= 1.0)
    }
  }

  test("etl_change_data_feed reconciles with st_cdc_upsert: keys(v) = keys(v-1) + inserts - deletes") {
    val cdf = SparkEntry.queries("etl_change_data_feed")(spark, d)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val keys = SparkEntry.queries("st_cdc_upsert")(spark, d)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (v <- 3L to 4L) {
      val (ins, upd, del, unch) = cdf(v)
      assert(keys(v) == keys(v - 1) + ins - del,
        s"v$v: ${keys(v)} != ${keys(v - 1)} + $ins - $del")
      // every key at v is accounted for exactly once by the CDF classes
      assert(keys(v) == ins + upd + unch,
        s"v$v: current keys ${keys(v)} != insert $ins + update $upd + unchanged $unch")
      assert(keys(v - 1) == del + upd + unch,
        s"v$v: prior keys ${keys(v - 1)} != delete $del + update $upd + unchanged $unch")
    }
  }

  test("etl_cdf_stored ≡ etl_change_data_feed: stored change files reproduce the snapshot-diff census") {
    val stored = SparkEntry.queries("etl_cdf_stored")(spark, d)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    assert(stored.keySet == Set(2L, 3L, 4L))
    assert(stored.values.forall(_._4), "every version pairs pre/post images exactly")
    val derived = SparkEntry.queries("etl_change_data_feed")(spark, d)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    for (v <- 3L to 4L) {
      val (si, su, sd, _) = stored(v)
      assert((si, su, sd) == derived(v),
        s"v$v: stored (${(si, su, sd)}) != snapshot-diff derivation (${derived(v)})")
    }
    // v2 transitions from the empty state: its whole change set is inserts
    // and must equal the CDC ledger's v2 key count
    val keys2 = SparkEntry.queries("st_cdc_upsert")(spark, d)
      .collect().find(_.getLong(0) == 2L).get.getLong(1)
    assert(stored(2L) == ((keys2, 0L, 0L, true)),
      s"v2 stored census ${stored(2L)} must be all-inserts = $keys2 keys")
  }

  test("st_cdf_stream: the streamed change-file reconstruction lands exactly on the CDC ledger") {
    val rec = SparkEntry.queries("st_cdf_stream")(spark, d)
      .collect().sortBy(_.getLong(0))
    assert(rec.map(_.getLong(0)).toSeq == Seq(2L, 3L, 4L))
    assert(rec.forall(_.getBoolean(3)),
      "full-row bag equality must hold at every version")
    val ledger = SparkEntry.queries("st_cdc_upsert")(spark, d)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    for (r <- rec)
      assert((r.getLong(1), r.getDouble(2)) == ledger(r.getLong(0)),
        s"v${r.getLong(0)}: reconstruction census != CDC ledger")
  }

  test("graph_assortativity: r bounded, edge count matches the adjacency, disassortative here") {
    val r = SparkEntry.queries("graph_assortativity")(spark, d).collect().head
    assert(r.getDouble(2) >= -1.0 && r.getDouble(2) <= 1.0, "Pearson r is bounded")
    assert(r.getDouble(2) < 0,
      "bipartite hub-and-spoke commerce must be degree-disassortative")
    assert(r.getDouble(1) > 0)
    // ordered-edge count = 2 × distinct (customer, supplier) trading pairs
    val pairs = graft.engine.Tables.load(spark, d, "orders")
      .join(graft.engine.Tables.load(spark, d, "lineitem"),
        org.apache.spark.sql.functions.col("o_orderkey") ===
          org.apache.spark.sql.functions.col("l_orderkey"))
      .select("o_custkey", "l_suppkey").distinct().count()
    assert(r.getLong(0) == 2 * pairs,
      s"edge sample ${r.getLong(0)} != 2 x $pairs trading pairs")
  }

  test("tx_burstiness: burst >= 1 by definition, df floor respected, ordering total") {
    val rows = SparkEntry.queries("tx_burstiness")(spark, d).collect()
    assert(rows.length == 20)
    for (r <- rows) {
      assert(r.getLong(1) >= r.getLong(2), "cf >= df always (a doc counts once in df)")
      assert(r.getDouble(3) >= 1.0, "burst = cf/df >= 1")
      assert(r.getLong(2) >= 5, "df floor")
    }
    val bursts = rows.map(_.getDouble(3))
    assert(bursts.zip(bursts.tail).forall { case (a, b) => a >= b }, "sorted by burst desc")
  }

  test("graph_truss_support: support mass is exactly 3 triangles per triangle, edge census complete") {
    val rows = SparkEntry.queries("graph_truss_support")(spark, d).collect()
    assert(rows.nonEmpty)
    // every triangle credits exactly its 3 edges, so the support-weighted
    // histogram mass must equal 3 × the triangle census of the SAME
    // committed co-supply layout (cross-face accounting)
    val tri = SparkEntry.queries("graph_triangles")(spark, d).collect().head
    val supportMass = rows.map(r => r.getLong(0) * r.getLong(1)).sum
    assert(supportMass == 3 * tri.getLong(2),
      s"support mass $supportMass != 3 x ${tri.getLong(2)} triangles")
    val nEdges = rows.map(_.getLong(1)).sum
    assert(nEdges == tri.getLong(1), "histogram must cover every edge exactly once")
    for (r <- rows)
      assert(r.getBoolean(2) == (r.getLong(0) >= 2), "4-truss marker is support >= 2")
  }

  test("graph_louvain_levels: lossless contraction, level 1 ≡ the move face, communities shrink") {
    val rows = SparkEntry.queries("graph_louvain_levels")(spark, d)
      .collect().sortBy(_.getLong(0))
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    val Seq(l1, l2) = rows.toSeq
    // THE Louvain invariant: contracting communities into weighted
    // super-nodes (intra edges → self-loops) preserves Q exactly — the
    // level-2 before-census must equal the level-1 after-census bit-for-bit
    assert(l1.getDouble(6) == l2.getDouble(5),
      s"contraction must preserve Q: q_after(1)=${l1.getDouble(6)} vs q_before(2)=${l2.getDouble(5)}")
    // level 1 IS graph_louvain_move (same pass, w=1): the two faces must
    // agree column-for-column
    val mv = SparkEntry.queries("graph_louvain_move")(spark, d).collect().head
    assert(l1.getLong(1) == mv.getLong(0), "n_moved must match the move face")
    assert(l1.getDouble(5) == mv.getDouble(4) && l1.getDouble(6) == mv.getDouble(5),
      "level-1 Q census must match the move face")
    for (r <- rows) {
      assert(r.getLong(4) <= r.getLong(3), "moves can only merge communities")
      if (r.getLong(1) > 0) assert(r.getLong(2) > 0, "selected moves all had positive gain")
    }
    // the coarse pass must still find merges worth making on this corpus,
    // and (deterministic regression pin) improve Q at level 2
    assert(l2.getLong(1) > 0, "level 2 must move at least one super-node here")
    assert(l2.getDouble(6) >= l2.getDouble(5), "level-2 pass must not drop Q on this corpus")
  }

  test("sim_graph_search: best-cos and recall provably monotone across rounds, budget bounded") {
    val rows = SparkEntry.queries("sim_graph_search")(spark, d)
      .collect().sortBy(_.getLong(0))
    assert(rows.map(_.getLong(0)).toSeq == (0L to 5L))
    val best = rows.map(_.getDouble(2)); val rec = rows.map(_.getDouble(3))
    // beams only ever improve: a member is displaced only by a strictly
    // better candidate, and a better-cos candidate displacing an exact-
    // top-k member must itself be in the exact top-k
    assert(best.zip(best.tail).forall { case (a, b) => a <= b },
      "per-query best cos is monotone in rounds")
    assert(rec.zip(rec.tail).forall { case (a, b) => a <= b },
      "recall is monotone in rounds")
    for (r <- rows) {
      // pool ≤ queries × beam × (1 + out-degree k): 10 × 8 × 9 at sf0.001
      assert(r.getLong(1) <= 720, s"round ${r.getLong(0)} scored ${r.getLong(1)} > budget")
      assert(r.getDouble(3) >= 0 && r.getDouble(3) <= 1)
    }
  }

  test("sim_beam_sweep: recall/work monotone in beam width; width 8 ≡ the search face's round 3") {
    val rows = SparkEntry.queries("sim_beam_sweep")(spark, d)
      .collect().sortBy(_.getLong(0))
    assert(rows.map(_.getLong(0)).toSeq == Seq(2L, 4L, 8L))
    val ns = rows.map(_.getLong(1)); val rec = rows.map(_.getDouble(3))
    assert(ns.zip(ns.tail).forall { case (a, b) => a < b },
      "a wider beam strictly widens the scored pool here")
    assert(rec.zip(rec.tail).forall { case (a, b) => a <= b },
      "recall is monotone in beam width on this corpus")
    // width 8 at 3 rounds is exactly the search face's round-3 census
    val s3 = SparkEntry.queries("sim_graph_search")(spark, d)
      .collect().find(_.getLong(0) == 3L).get
    val w8 = rows.last
    assert(w8.getLong(1) == s3.getLong(1) && w8.getDouble(2) == s3.getDouble(2)
      && w8.getDouble(3) == s3.getDouble(3),
      "sweep(beam=8) must reproduce sim_graph_search round 3 exactly")
  }

  test("dd_decontaminate_sweep: counts monotone nonincreasing in n; n=13 agrees with dd_decontaminate") {
    val rows = SparkEntry.queries("dd_decontaminate_sweep")(spark, d)
      .collect().sortBy(_.getLong(0))
    assert(rows.map(_.getLong(0)).toSeq == Seq(8L, 13L, 20L))
    // an n-gram match contains an m-gram match for every m < n, so both
    // the flagged-doc and the eval-doc census shrink (weakly) as n grows
    for (c <- 1 to 2; Seq(a, b) <- rows.toSeq.sliding(2))
      assert(a.getLong(c) >= b.getLong(c),
        s"column $c must be nonincreasing in n: ${a.getLong(c)} -> ${b.getLong(c)}")
    // the sweep's n=13 row is the dd_decontaminate census aggregated
    val d13 = SparkEntry.queries("dd_decontaminate")(spark, d).collect()
    assert(rows(1).getLong(1) == d13.length,
      "n=13 flagged count must equal dd_decontaminate's per-doc census size")
  }

  test("sim_hnsw_search: monotone, once-only-scored, and beats the flat width-8 search at lower budget") {
    val rows = SparkEntry.queries("sim_hnsw_search")(spark, d)
      .collect().sortBy(_.getLong(0))
    assert(rows.map(_.getLong(0)).toSeq == (0L to 5L))
    assert(rows.map(_.getString(1)).toSeq ==
      Seq("coarse", "coarse", "coarse", "full", "full", "full"))
    // the beam is the top-b of a growing scored set with consistent
    // tie-breaks, so best-cos and recall are provably monotone
    val best = rows.map(_.getDouble(3)); val rec = rows.map(_.getDouble(4))
    assert(best.zip(best.tail).forall { case (a, b) => a <= b }, "avg_best monotone")
    assert(rec.zip(rec.tail).forall { case (a, b) => a <= b }, "recall monotone")
    // visited-set accounting: cum_scored is exactly the running sum of
    // per-round NEW scores
    val cums = rows.map(_.getLong(5))
    assert(cums.toSeq == rows.map(_.getLong(2)).scanLeft(0L)(_ + _).tail.toSeq,
      "cum_scored must be the running sum of n_scored")
    // THE headline claim: >= the flat width-8 search's round-3 recall at
    // <= its scored-candidate budget (the flat face re-scores its pools;
    // both censuses count actual cosine evaluations)
    val flat = SparkEntry.queries("sim_graph_search")(spark, d)
      .collect().sortBy(_.getLong(0))
    val flatBudget = flat.take(4).map(_.getLong(1)).sum
    val flatRecall = flat(3).getDouble(3)
    assert(cums.last <= flatBudget,
      s"hnsw budget ${cums.last} must not exceed the flat round-3 budget $flatBudget")
    assert(rec.last >= flatRecall,
      s"hnsw recall ${rec.last} must reach the flat round-3 recall $flatRecall")
  }

  test("sim_triplet_mining: sides labeled correctly, pools bounded by the 2-hop index, margin reconciles") {
    val rows = SparkEntry.queries("sim_triplet_mining")(spark, d).collect()
    assert(rows.nonEmpty)
    val labels = graft.engine.Tables.load(spark, d, "embeddings")
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    for (r <- rows) {
      val (qid, qLabel, nCands, nPos) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(labels(qid) == qLabel, s"anchor $qid label mismatch")
      // 2-hop pool on a k=8 graph: ≤ 8 + 64 candidates per anchor
      assert(nCands <= 72 && nPos <= nCands, s"$qid: pool out of bounds")
      if (nPos > 0) {
        assert(!r.isNullAt(4) && labels(r.getLong(4)) == qLabel,
          s"$qid: positive must share the anchor's label")
      }
      if (nPos < nCands) {
        assert(!r.isNullAt(6) && labels(r.getLong(6)) != qLabel,
          s"$qid: hard negative must differ in label")
      }
      if (nPos > 0 && nPos < nCands) {
        // margin is computed from unrounded cosines — the rounded columns
        // reconcile within one rounding step
        assert(math.abs(r.getDouble(8) - (r.getDouble(5) - r.getDouble(7))) <= 1e-4 + 1e-9,
          s"$qid: margin must reconcile with pos_cos - neg_cos")
      }
    }
  }

  test("sketch_kmv_setops: set algebra consistent, estimates inside the KMV error envelope") {
    val rows = SparkEntry.queries("sketch_kmv_setops")(spark, d).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4))).toMap
    assert(rows.keySet == Set("a", "b", "union", "intersect", "diff_a_only"))
    val (_, _, _, xa) = rows("a"); val (_, _, _, xb) = rows("b")
    val (_, _, _, xu) = rows("union"); val (_, _, _, xi) = rows("intersect")
    val (_, _, _, xd) = rows("diff_a_only")
    // the exact truth columns obey inclusion–exclusion by construction
    assert(xa + xb - xi == xu, "exact I-E must reconcile")
    assert(xa - xi == xd, "exact difference must reconcile")
    for ((op, (n, theta, est, exact)) <- rows) {
      assert(theta > 0 && theta <= 1.0, s"$op: theta=$theta out of range")
      assert(n >= 0 && est >= 0, s"$op: negative census")
      // k=256 ⇒ RSE ≈ 1/√(k−2) ≈ 6.3%; 4σ + small-count slack covers the
      // derived ops (their variance scales with the UNION, not their own
      // size). Exact-regime rows (theta = 1) must be exactly right.
      if (theta == 1.0) assert(est == exact.toDouble, s"$op: exact regime must be exact")
      else assert(math.abs(est - exact) <= math.max(5.0, 0.25 * xu),
        s"$op: estimate $est too far from exact $exact")
    }
  }

  test("dd_decontaminate_stream: streamed per-shard flags ≡ the batch census, shard routing correct") {
    val streamed = SparkEntry.queries("dd_decontaminate_stream")(spark, d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val batch = SparkEntry.queries("dd_decontaminate")(spark, d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(streamed.nonEmpty)
    assert(streamed.keySet == batch.keySet,
      "the stream must flag exactly the docs the batch census flags")
    for ((id, (b, sh, ev)) <- streamed) {
      assert(b == id % 3, s"doc $id landed in micro-batch $b, expected ${id % 3}")
      assert((sh, ev) == batch(id), s"doc $id: stream counts differ from batch")
    }
  }

  test("sim_hnsw_levels: monotone, once-only-scored, dominates the 2-layer face (recall >=, budget <=)") {
    val rows = SparkEntry.queries("sim_hnsw_levels")(spark, d)
      .collect().sortBy(_.getLong(0))
    assert(rows.map(_.getLong(0)).toSeq == (0L to 7L))
    assert(rows.map(_.getString(1)).toSeq ==
      Seq("l2", "l2", "l1", "l0", "l0", "l0", "l0", "l0"))
    val best = rows.map(_.getDouble(3)); val rec = rows.map(_.getDouble(4))
    assert(best.zip(best.tail).forall { case (a, b) => a <= b }, "avg_best monotone")
    assert(rec.zip(rec.tail).forall { case (a, b) => a <= b }, "recall monotone")
    val cums = rows.map(_.getLong(5))
    assert(cums.toSeq == rows.map(_.getLong(2)).scanLeft(0L)(_ + _).tail.toSeq,
      "cum_scored must be the running sum of n_scored")
    // THE headline claim (VERDICT r12 #4, measured by a schedule sweep): at
    // this sf the layer stack reaches >= the 2-layer face's final recall
    // at <= its scored-candidate budget (strict dominance; the in-face
    // doc carries the three-sf table including the one disclosed +2.1%
    // budget regime at sf0.01)
    val two = SparkEntry.queries("sim_hnsw_search")(spark, d)
      .collect().sortBy(_.getLong(0))
    assert(cums.last <= two.last.getLong(5),
      s"levels budget ${cums.last} must not exceed the 2-layer budget ${two.last.getLong(5)}")
    assert(rec.last >= two.last.getDouble(4),
      s"levels recall ${rec.last} must reach the 2-layer recall ${two.last.getDouble(4)}")
  }

  test("mm_audio_dedup: detected pairs are exactly planted echoes; corrupt plants break their pairs; buckets capped") {
    val rows = SparkEntry.queries("mm_audio_dedup")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6)))
    // deterministic at this sf: 38 of the 48 live planted (src, src+7)
    // echo pairs clear the n_shared/overlap thresholds (the 10 missed are
    // nf=8 clips with too few peak pairs), and ZERO false positives
    assert(rows.length == 38, s"expected the 38 measured pairs, got ${rows.length}")
    for ((a, b, ns, la, lb, mb, ov) <- rows) {
      assert(b - a == 7 && a % 10 == 0,
        s"($a, $b) is not a planted (src, src+7) echo pair")
      assert(ns >= 3 && ov >= 0.5, s"($a, $b) below the report thresholds")
      assert(mb <= 16, s"($a, $b) came through an uncapped bucket ($mb)")
      assert(ns <= math.min(la, lb), s"($a, $b) shares more than it has")
    }
    // the corrupt plants (doc_id % 97 == 96: clip 290 = a source, clip
    // 387 = an echo) decode to nothing, so their partners must be orphans
    for (orphan <- Seq(297L, 380L))
      assert(!rows.exists(r => r._1 == orphan || r._2 == orphan),
        s"clip $orphan's partner is corrupt — it must match nothing")
  }

  test("st_index_append: streamed appends ≡ the batch twin; batch routing correct; k edges per newcomer") {
    val out = graft.queries.Similarity.indexAppendScenario(spark, d)
    val streamed = spark.read.parquet((0 to 2).map(b => s"$out/b$b"): _*)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val twin = graft.queries.Similarity.appendBatchTwin(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(streamed.nonEmpty)
    assert(streamed.map(t => (t._1, t._2, t._3)).toSet == twin.toSet,
      "the streamed edge set must equal the single-batch twin's")
    for ((a, b, _, batch) <- streamed) {
      assert(a % 2 == 1 && b % 2 == 0,
        s"edge ($a, $b): newcomers are odd, base links even")
      assert((a / 2) % 3 == batch, s"edge of $a landed in batch $batch")
    }
    assert(streamed.groupBy(_._1).forall(_._2.length == 8),
      "every newcomer links exactly k=8 edges")
  }

  test("sim_index_insert: every node keeps k edges; base cohort dominates the rebuild; new cohort within eps") {
    val rows = SparkEntry.queries("sim_index_insert")(spark, d).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(rows.keySet == Set(("inserted", "base"), ("inserted", "new"),
      ("rebuilt", "base"), ("rebuilt", "new")))
    // saturation: prune/link/repair all window to exactly k=8 per node,
    // and both graphs cover the same node sets per cohort — so the edge
    // counts must MATCH the rebuild's cohort-for-cohort
    assert(rows(("inserted", "base"))._1 == rows(("rebuilt", "base"))._1,
      "base-cohort edge counts must match the rebuild (k per node)")
    assert(rows(("inserted", "new"))._1 == rows(("rebuilt", "new"))._1,
      "new-cohort edge counts must match the rebuild (k per node)")
    // THE headline (VERDICT r13 #3): prune and repair re-select edges by
    // exact cosine, so the maintained index's BASE cohort strictly beats
    // the from-scratch NN-descent rebuild...
    assert(rows(("inserted", "base"))._3 > rows(("rebuilt", "base"))._3,
      s"base-cohort recall ${rows(("inserted", "base"))._3} must beat " +
        s"the rebuild's ${rows(("rebuilt", "base"))._3}")
    // ...and the NEW cohort — searched against only half the corpus and
    // repaired through a bounded 2-hop/co-linker pool — gives up at most
    // eps=0.1 of the rebuild's recall (measured deficits: 0.0875 at
    // sf0.001, -0.0125 i.e. a win at sf0.01, 0.0219 at sf0.1): the
    // price of O(batch) maintenance vs the O(corpus) rebuild
    assert(rows(("inserted", "new"))._3 >= rows(("rebuilt", "new"))._3 - 0.1,
      s"new-cohort recall ${rows(("inserted", "new"))._3} must be within " +
        s"0.1 of the rebuild's ${rows(("rebuilt", "new"))._3}")
  }

  test("graph_louvain_converged: reported prefix obeys the stop rule; seams lossless; levels 1-2 ≡ the levels face") {
    val rows = SparkEntry.queries("graph_louvain_converged")(spark, d)
      .collect().sortBy(_.getLong(0))
    assert(rows.nonEmpty && rows.map(_.getLong(0)).toSeq == (1L to rows.length.toLong))
    // every level but the last cleared epsilon (that is why the loop
    // continued), so its pass strictly improved Q; the last level is the
    // first with dq < 1e-4 (or the 4-level bound)
    for (r <- rows.dropRight(1))
      assert(r.getDouble(6) > r.getDouble(5),
        s"level ${r.getLong(0)} continued, so its pass must have improved Q")
    if (rows.length < 4) {
      val last = rows.last
      assert(last.getDouble(6) - last.getDouble(5) < 1e-4,
        "an early stop must be justified by the last level's dq < epsilon")
    }
    // lossless contraction at every seam: q_after(L) == q_before(L+1)
    for (Seq(a, b) <- rows.toSeq.sliding(2) if rows.length > 1)
      assert(a.getDouble(6) == b.getDouble(5),
        s"contraction seam ${a.getLong(0)} -> ${b.getLong(0)} must preserve Q exactly")
    // the first two levels are the SAME passes the fixed-depth face runs
    val lv = SparkEntry.queries("graph_louvain_levels")(spark, d)
      .collect().sortBy(_.getLong(0))
    for ((c, l) <- rows.take(2).zip(lv))
      assert((1 to 6).forall(i => c.get(i) == l.get(i)),
        s"converged level ${c.getLong(0)} must equal the levels face's census")
  }

  test("st_cdc_upsert: replay rejected every run, keyed state bounded by the user universe") {
    val rows = SparkEntry.queries("st_cdc_upsert")(spark, d)
      .collect().sortBy(_.getLong(0))
    assert(rows.map(_.getLong(0)).toSeq == Seq(2L, 3L, 4L))
    assert(rows.forall(_.getBoolean(3)), "the replayed batch-1 claim must lose on every run")
    val users = graft.engine.Tables.load(spark, d, "events")
      .select("user_id").distinct().count()
    for (r <- rows) {
      assert(r.getLong(1) > 0, "each version holds live keys")
      assert(r.getLong(1) <= users, "keys bounded by the user universe")
    }
    // final state: one row per user whose lexicographic-max change is an
    // upsert — recomputed directly against the raw change derivation
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val P = 1000000007L
    val ch = graft.engine.Tables.load(spark, d, "events")
      .select(col("event_id"), col("ts"), col("user_id"),
        when(col("event_id") % 10 === 0, "D").otherwise("U").as("op"))
      .withColumn("batch", pmod(col("event_id"), lit(P)) * 2654435761L % P % 3)
    val w = Window.partitionBy("user_id")
      .orderBy(col("batch").desc, col("ts").desc, col("event_id").desc)
    val expect = ch.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") === "U").count()
    assert(rows.last.getLong(1) == expect,
      s"v4 keyed state ${rows.last.getLong(1)} != recomputed LWW state $expect")
  }

  test("graph_scc_coloring: census reconciles, phase 2 empties the residue, giant SCC found") {
    val rows = SparkEntry.queries("graph_scc_coloring")(spark, d).collect()
    assert(rows.nonEmpty)
    val (nNodes, p1, p2, nUnsettled) =
      (rows.head.getLong(4), rows.head.getLong(5),
       rows.head.getLong(6), rows.head.getLong(7))
    assert(p1 + p2 + nUnsettled == nNodes,
      "phase-1 + phase-2 settled + unsettled must cover the node set")
    // the point of phase-2 peeling (VERDICT r12 #2): the residue the
    // first coloring shadowed is recolored until nothing is left
    assert(nUnsettled == 0L,
      s"phase 2 must settle the residue at test sf (got $nUnsettled)")
    assert(p1 > p2, "phase 1 colors the bulk; phase 2 only peels the residue")
    for (r <- rows) {
      assert(r.getLong(1) == r.getLong(2) + r.getLong(3),
        "members = customers + suppliers, per SCC")
      assert(r.getLong(1) >= 1L, "a root always certifies itself")
    }
    // the return-pair density of the trade graph makes one giant mutual
    // component — phase-1 coloring must find it (the algorithm's point)
    assert(rows.head.getLong(1) * 2 > nNodes,
      s"top SCC ${rows.head.getLong(1)} should span most of $nNodes nodes")
    // sizes are reported descending with the scc-root tiebreak
    val sizes = rows.map(_.getLong(1)).toSeq
    assert(sizes == sizes.sortBy(-_), "top-15 must be size-ordered")
  }
}
