package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Tables.{load => t}

/** Perceptual image dedup — the multimodal twin of the MinHash text
  * pipeline: decode → 56-bit dHash → banded Hamming candidates → verify,
  * with a planted ground truth so precision/recall are oracle-checked.
  *
  * The synth side writes COMPLETE 24bpp BMPs (bottom-up rows, 4-byte
  * stride — the two spec details a naive reader gets wrong) whose 8×8
  * grayscale derives from doc_id: all docs in a group of 16 share a base
  * image and each non-leader perturbs exactly one pixel, so within-group
  * pairs sit ≤4 dHash bits apart — the planted near-dup classes. The
  * decode path ([[graft.engine.ImageHeaders.bmpGray]]) re-reads offset,
  * dims and bpp from the declared header and independently undoes the
  * bottom-up padded layout; any slip breaks the closed-form oracle match.
  *
  * Scale shape: hashing is the mapPartitions opaque-binary boundary (the
  * one place typed Scala touches bytes — exactly where a codec would
  * init per partition); everything after is declarative — a 4×14-bit
  * band explode, an equi-join on (band, bkey) that NEVER goes all-pairs,
  * a bit_count Hamming verify on the ≤4-per-band survivors, and
  * integer-ratio quality metrics. The same plan at 100 TB: the hash table
  * is 12 bytes/image, bands shuffle (band, bkey, id) only, and candidate
  * fan-out is bounded by bucket occupancy, the dd_lsh_pairs argument.
  */
object ImageDedup {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    "mm_image_dedup" -> ((s, d) => {
      import s.implicits._
      import graft.engine.{ImageHeaders => IH, Multimodal => M}
      val media = t(s, d, "documents").select(col("doc_id")).as[Long].map { id =>
        val g = id / 16; val k = (id % 16).toInt
        val px = k % 8; val py = (k * 3) % 8
        // the per-pixel position factor makes adjacent-pixel DIFFERENCES
        // vary with g — dHash is invariant to uniform brightness shifts,
        // so a formula linear in g with a constant gradient (the first
        // attempt) hashed whole groups identically; measured purity 0.12.
        // With the mix: purity 1.0 at 500 docs, 0.68 at 5000 (base
        // patterns cycle at g=251 — those repeats are deterministic and
        // the oracle counts them identically).
        def gray(x: Int, y: Int): Int = {
          val base = (((g * 73 + x * 13 + y * 31) * (x + 8 * y + 3)) % 251).toInt
          if (k > 0 && x == px && y == py) (base + 97) % 251 else base
        }
        M.MediaRecord(id, IH.bmpPixelBytes(8, 8, gray), "image/bmp")
      }
      val hashes = media.mapPartitions { it =>
        // codec init would sit here, once per partition
        it.flatMap { r =>
          IH.bmpGray(r.payload).map { case (w, h, gr) =>
            (r.doc_id, IH.dHash56(w, h, gr))
          }
        }
      }.toDF("doc_id", "h56").cache()
      val banded = hashes.select(col("doc_id"), col("h56"),
          explode(array((0 until 4).map(b =>
            struct(lit(b).as("band"),
              shiftright(col("h56"), 14 * b).bitwiseAND(lit(0x3fffL)).as("bkey"))): _*)).as("bd"))
        .select(col("doc_id"), col("h56"),
          col("bd.band").as("band"), col("bd.bkey").as("bkey"))
      val cand = banded.as("x").join(banded.as("y"),
          col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
          col("x.h56").as("ha"), col("y.h56").as("hb"))
        .distinct()
        .cache()
      val near = cand
        .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))))
        .filter(col("hamming") <= 6)
        .withColumn("same_group",
          floor(col("a") / lit(16)) === floor(col("b") / lit(16)))
      val planted = t(s, d, "documents")
        .groupBy(floor(col("doc_id") / lit(16)).as("g"))
        .agg(count(lit(1)).as("n"))
        .agg(sum((col("n") * (col("n") - 1) / lit(2)).cast("long")).as("n_planted"))
      hashes.agg(count(lit(1)).as("n_images"))
        .crossJoin(cand.agg(count(lit(1)).as("n_candidates")))
        .crossJoin(near.agg(count(lit(1)).as("n_near"),
          sum(when(col("same_group"), lit(1L)).otherwise(lit(0L))).as("n_true")))
        .crossJoin(broadcast(planted))
        .select(col("n_images"), col("n_candidates"), col("n_near"),
          col("n_true"), col("n_planted"),
          // zero-denominator guards: Spark double x/0 is NaN while DuckDB's
          // is an error (or NULL via NULLIF) — both engines must emit NULL
          // on degenerate corpora (no surviving near pairs / no planted
          // groups of ≥2), not diverge.
          when(col("n_near") > 0,
            round(col("n_true").cast("double") / col("n_near"), 4)).as("purity"),
          when(col("n_planted") > 0,
            round(col("n_true").cast("double") / col("n_planted"), 4)).as("recall"))
    })
  )

  /** Closed-form oracle: the whole pipeline — gray formula, dHash bits,
    * banding, Hamming, planted truth — is derivable from doc_id alone, so
    * DuckDB recomputes it without ever seeing a byte of BMP; only if the
    * Spark side's synth→encode→decode→hash round-trip is exact do the two
    * engines agree. Bit j of the hash is row r = j // 7, col c = j % 7,
    * set iff gray(c+1, r) > gray(c, r). */
  val oracles: Map[String, String] = Map(
    "mm_image_dedup" -> {
      def gray(x: String, y: String) =
        s"""(CASE WHEN k > 0 AND ($x) = k % 8 AND ($y) = (k * 3) % 8
           |  THEN (((g*73 + ($x)*13 + ($y)*31) * (($x) + 8*($y) + 3)) % 251 + 97) % 251
           |  ELSE ((g*73 + ($x)*13 + ($y)*31) * (($x) + 8*($y) + 3)) % 251 END)""".stripMargin
      s"""WITH imgs AS (SELECT doc_id, doc_id // 16 AS g, doc_id % 16 AS k FROM documents),
         |hx AS (SELECT doc_id,
         |    CAST(list_sum(list_transform(range(0, 56), j ->
         |      CASE WHEN ${gray("(j % 7) + 1", "j // 7")} > ${gray("j % 7", "j // 7")}
         |           THEN CAST(1 AS BIGINT) << j ELSE 0 END)) AS BIGINT) AS h56
         |  FROM imgs),
         |bands AS (SELECT doc_id, h56, b AS band, (h56 >> (14 * b)) & 16383 AS bkey
         |  FROM hx CROSS JOIN (SELECT unnest(range(0, 4)) AS b)),
         |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b2, x.h56 AS ha, y.h56 AS hb
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
         |near AS (SELECT a, b2, bit_count(xor(ha, hb)) AS hamming FROM cand
         |  WHERE bit_count(xor(ha, hb)) <= 6),
         |planted AS (SELECT CAST(sum(n * (n - 1) // 2) AS BIGINT) AS n_planted FROM (
         |  SELECT doc_id // 16 AS g2, count(*) AS n FROM documents GROUP BY g2)),
         |ag AS (SELECT count(*) AS n_near,
         |    CAST(sum(CASE WHEN a // 16 = b2 // 16 THEN 1 ELSE 0 END) AS BIGINT) AS n_true
         |  FROM near)
         |SELECT (SELECT count(*) FROM hx) AS n_images,
         |  (SELECT count(*) FROM cand) AS n_candidates,
         |  n_near, n_true, n_planted,
         |  round(CAST(n_true AS DOUBLE) / NULLIF(n_near, 0), 4) AS purity,
         |  round(CAST(n_true AS DOUBLE) / NULLIF(n_planted, 0), 4) AS recall
         |FROM ag CROSS JOIN planted""".stripMargin
    }
  )
}
