package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Tables.{load => t}

/** Multimodal-column plumbing (builder-prompt first-class component): media
  * payloads as opaque `binary` columns + typed metadata. The real image/audio
  * decode is STUBBED (no media libs in this container) behind the
  * deterministic fake in graft.engine.Multimodal — these queries verify the
  * Spark-side plumbing that IS real: binary casting, byte-level metadata,
  * deterministic feature derivation, partition-friendly batch shapes.
  */
object Multimodal {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map[String, Q](
    // binary payload + metadata extraction: documents.text stands in for
    // media bytes (UTF-8 encode on both engines).
    "mm_binary_meta" -> ((s, d) => {
      // head checksum over the first 8 chars only: split the 8-char substring
      // (O(8) per row), never index a full-text split from inside a lambda —
      // an unstaged split re-evaluates O(len) work per lambda reference.
      val head = split(substring(col("text"), 1, 8), "")
      t(s, d, "documents")
        .withColumn("payload", col("text").cast("binary"))
        .withColumn("n_bytes", octet_length(col("payload")).cast("bigint"))
        .withColumn("head_checksum",
          aggregate(head, lit(0L), (acc, c) => acc + coalesce(ascii(c).cast("long"), lit(0L))))
        .select("doc_id", "n_bytes", "head_checksum")
        .orderBy("doc_id")
    }),

    // decode-stub features: deterministic fake width/height/frames/mean-pixel
    // derived from payload stats (real plumbing, fake decode — see
    // graft.engine.Multimodal for the typed mapPartitions path).
    "mm_decode_stub" -> ((s, d) =>
      t(s, d, "documents")
        .withColumn("n_bytes", octet_length(col("text").cast("binary")).cast("bigint"))
        .withColumn("width", (col("n_bytes") % 64 + 1).cast("bigint"))
        .withColumn("height", (col("n_bytes") * 7 % 64 + 1).cast("bigint"))
        .withColumn("n_frames", (col("n_bytes") % 10 + 1).cast("bigint"))
        .withColumn("fake_mean_pixel", round((col("n_bytes") % 256).cast("double") / 255.0, 4))
        .select("doc_id", "n_bytes", "width", "height", "n_frames", "fake_mean_pixel")
        .orderBy("doc_id")),

    // REAL byte-level decode: synthesize spec-layout PNG/BMP headers (dims
    // and byte budget derived from doc_id), run the genuine byte-offset
    // parser through the typed mapPartitions path, and oracle-check that the
    // parsed dimensions/checksums match the synthesis formulas — any byte
    // slip in either direction (endianness, offset, magic) breaks the match.
    "mm_decode_real" -> ((s, d) => {
      import s.implicits._
      import graft.engine.{ImageHeaders => IH, Multimodal => M}
      val media = t(s, d, "documents").select(col("doc_id")).as[Long].map { id =>
        val w = (id % 1017 + 8).toInt
        val h = (id * 7 % 1017 + 8).toInt
        val filler = (id % 32).toInt
        if (id % 2 == 0) M.MediaRecord(id, IH.pngBytes(w, h, filler), "image/png")
        else M.MediaRecord(id, IH.bmpBytes(w, h, filler), "image/bmp")
      }
      M.extractFeatures(media).toDF()
        .select(col("doc_id"), col("fmt"),
          col("n_bytes").cast("bigint").as("n_bytes"),
          col("width").cast("bigint").as("width"),
          col("height").cast("bigint").as("height"),
          col("checksum"))
        .orderBy("doc_id")
    }),

    // frame sampling: synthesize spec-layout GVID clips (count + 16-byte
    // frames derived from doc_id), keep every 3rd frame via the REAL
    // byte-parsing sampler in the typed mapPartitions path, oracle-check
    // each kept frame's checksum against the synthesis formula — any slip
    // in the count endianness, frame offset, or stride breaks the match.
    "mm_frame_sample" -> ((s, d) => {
      import s.implicits._
      import graft.engine.{Multimodal => M}
      val vids = t(s, d, "documents").select(col("doc_id")).as[Long].map { id =>
        M.VideoRecord(id, M.videoBytes(id, (id % 10 + 1).toInt))
      }
      M.sampleFrames(vids, 3).toDF()
        .select(col("doc_id"),
          col("n_frames").cast("bigint").as("n_frames"),
          col("frame_idx").cast("bigint").as("frame_idx"),
          col("frame_checksum"))
        .orderBy("doc_id", "frame_idx")
    }),

    // ---- shot/scene-cut detection (the video-curation twin of
    // mm_audio_segments' VAD): adjacent-frame L1 byte difference →
    // threshold → per-clip cut census. The diff stream is REAL byte math
    // in the typed per-partition path (engine.Multimodal.frameDiffs reads
    // count + frame bytes from their offsets, corrupt clips drop); the
    // thresholding and census stay declarative. Synthetic scenes are
    // byte-identical within a scene and shift +53 mod 256 at boundaries,
    // so ANY positive threshold separates; a production detector
    // calibrates the threshold on decoded-pixel histograms — the decode
    // stub discipline, with the container plumbing real. The oracle is
    // CLOSED-FORM from the plant rule, including max_diff's wrap
    // arithmetic (53 vs 203 per byte) — it proves the diffs really came
    // from the bytes. Corrupt plant: doc_id % 13 == 0 ships a truncated
    // magic-mismatched payload and must vanish.
    "mm_scene_cuts" -> ((s, d) => {
      import s.implicits._
      import graft.engine.{Multimodal => M}
      val vids = t(s, d, "documents").select(col("doc_id")).as[Long].map { id =>
        val n = (id % 10 + 4).toInt
        val sl = (id % 4 + 2).toInt
        val bytes =
          if (id % 13 == 0) Array[Byte]('G', 'V', 'I', 'X')
          else M.sceneVideoBytes(id, n, sl)
        M.VideoRecord(id, bytes)
      }
      M.frameDiffs(vids).toDF()
        .groupBy("doc_id")
        .agg((count(lit(1)) + lit(1L)).as("n_frames"),
          sum(when(col("diff_l1") > 0, 1L).otherwise(0L)).as("n_cuts"),
          max("diff_l1").as("max_diff"))
        .withColumn("scene_len", col("doc_id") % 4 + 2)
        .orderBy("doc_id")
    }),

    // resize planning: decode real PNG/BMP dims (same synth + byte parser
    // as mm_decode_real), then compute aspect-preserving ≤256-max-side
    // target dims declaratively — the decode sits in the typed path, the
    // planning math stays in Catalyst (codegen'd, no shuffle). The pixel
    // resample itself is the stubbed decoder step; the dimension plan and
    // byte budget are what the pipeline schedules by.
    "mm_resize_plan" -> ((s, d) => {
      import s.implicits._
      import graft.engine.{ImageHeaders => IH, Multimodal => M}
      val media = t(s, d, "documents").select(col("doc_id")).as[Long].map { id =>
        val w = (id % 1017 + 8).toInt
        val h = (id * 7 % 1017 + 8).toInt
        val filler = (id % 32).toInt
        if (id % 2 == 0) M.MediaRecord(id, IH.pngBytes(w, h, filler), "image/png")
        else M.MediaRecord(id, IH.bmpBytes(w, h, filler), "image/bmp")
      }
      val dims = M.extractFeatures(media).toDF()
        .select(col("doc_id"), col("fmt"),
          col("width").cast("bigint").as("width"),
          col("height").cast("bigint").as("height"))
      dims
        .withColumn("needs_resize", greatest(col("width"), col("height")) > 256)
        .withColumn("target_w", when(!col("needs_resize"), col("width"))
          .when(col("width") >= col("height"), lit(256L))
          .otherwise(greatest(lit(1L), floor(col("width") * 256.0 / col("height")))))
        .withColumn("target_h", when(!col("needs_resize"), col("height"))
          .when(col("width") >= col("height"),
            greatest(lit(1L), floor(col("height") * 256.0 / col("width"))))
          .otherwise(lit(256L)))
        .select("doc_id", "fmt", "width", "height", "needs_resize", "target_w", "target_h")
        .orderBy("doc_id")
    }),

    // REAL byte-level WAV decode — the audio modality, same synth→parse
    // round-trip contract as mm_decode_real: per-doc PCM parameters derive
    // from doc_id, the canonical 44-byte RIFF header is synthesized, and
    // engine.AudioHeaders.decode re-reads channels/rate/bits/sample-count
    // from their byte offsets (validating the untrusted data-chunk length
    // in Long arithmetic). duration_ms is integer floor division on both
    // engines.
    // audio feature extraction over REAL sample bytes: synthesize 16-bit
    // PCM WAVs with a deterministic sample pattern, then recover RMS energy
    // and peak amplitude by decoding the int16 little-endian data section
    // (AudioHeaders.samples16 — low byte unsigned, high byte sign-extended;
    // the decoder shares no arithmetic with the synthesizer, so the oracle
    // match proves the byte math). Every squared sample is an exact integer
    // < 2^31 and the per-clip sum stays < 2^53, so the double accumulation
    // is order-independent — bit-identical across engines without rounding
    // tricks. Per-partition iteration = decoder-init-once batch shape.
    "mm_audio_energy" -> ((s, d) => {
      import s.implicits._
      import graft.engine.{AudioHeaders => AH, Multimodal => M}
      val media = t(s, d, "documents").select(col("doc_id")).as[Long].map { id =>
        val ch = (id % 2 + 1).toInt
        val n = ((id % 40 + 1) * 8).toInt
        val b = AH.wavBytes(ch, 8000, 16, n)
        var j = 0
        val total = n * ch * 2
        while (j < total) {
          b(AH.WavHeaderLen + j) = ((id * 13 + j * 7) % 256).toByte
          j += 1
        }
        M.MediaRecord(id, b, "audio/wav")
      }
      media.mapPartitions { it =>
        // codec init would sit here, once per partition
        it.flatMap { r =>
          AH.samples16(r.payload).map { ss =>
            var sum2 = 0.0
            var peak = 0
            ss.foreach { v =>
              sum2 += v.toDouble * v
              if (math.abs(v) > peak) peak = math.abs(v)
            }
            (r.doc_id, ss.length.toLong, math.sqrt(sum2 / ss.length), peak.toLong)
          }
        }
      }.toDF("doc_id", "n_samples_total", "rms", "peak")
        .withColumn("rms", round(col("rms"), 4))
        .orderBy("doc_id")
    }),

    // ---- audio SEGMENTATION (VAD shape) over real sample bytes — the
    // preprocessing step every speech/ASR data pipeline runs before
    // transcription: decode PCM, frame it, classify frames silent/speech
    // by energy, island-merge adjacent speech frames into segments. The
    // synth writes mono 16-bit clips whose silence pattern derives from
    // doc_id (frame f silent iff (f² + id) % 5 == 0 — all 16 samples zero;
    // the quadratic makes run lengths vary, so the island merge is
    // non-trivial), so the oracle recomputes the
    // whole segmentation closed-form from doc_id without seeing a byte —
    // only an exact synth→RIFF→decode→frame→classify round-trip matches
    // (the mm_image_dedup contract, audio edition). Scale shape: decode +
    // segmentation are a single mapPartitions pass (codec-init-once) with
    // per-clip state only — frames never leave their executor; the output
    // is one row per clip. At 100 TB the segment table IS the next
    // stage's work-list (cut points for chunked transcription).
    "mm_audio_segments" -> ((s, d) => {
      import s.implicits._
      import graft.engine.{AudioHeaders => AH, Multimodal => M}
      val FrameLen = 16
      val media = t(s, d, "documents").select(col("doc_id")).as[Long].map { id =>
        val nf = (id % 20 + 5).toInt
        val n = nf * FrameLen
        val b = AH.wavBytes(1, 8000, 16, n)
        var j = 0
        while (j < n) {
          val f = j / FrameLen
          val v = if ((f.toLong * f + id) % 5 == 0) 0 else ((id * 13 + j * 7) % 200 + 1).toInt
          b(AH.WavHeaderLen + 2 * j) = (v & 0xff).toByte
          b(AH.WavHeaderLen + 2 * j + 1) = ((v >> 8) & 0xff).toByte
          j += 1
        }
        M.MediaRecord(id, b, "audio/wav")
      }
      media.mapPartitions { it =>
        // codec init would sit here, once per partition
        it.flatMap { r =>
          AH.samples16(r.payload).map { ss =>
            val nf = ss.length / FrameLen
            // frame energy > 0 ⇔ any nonzero sample — the threshold stays
            // an exact integer compare, nothing to flake
            val speech = (0 until nf).map { f =>
              var e = 0L; var k = 0
              while (k < FrameLen) { val v = ss(f * FrameLen + k); e += v.toLong * v; k += 1 }
              e > 0L
            }
            var nSeg = 0L; var longest = 0L; var run = 0L
            speech.foreach { sp =>
              if (sp) { if (run == 0) nSeg += 1; run += 1; if (run > longest) longest = run }
              else run = 0
            }
            (r.doc_id, nf.toLong, speech.count(identity).toLong, nSeg, longest)
          }
        }
      }.toDF("doc_id", "n_frames", "n_speech_frames", "n_segments", "longest_segment")
        .withColumn("speech_ratio",
          round(col("n_speech_frames") / col("n_frames").cast("double"), 4))
        .orderBy("doc_id")
    }),

    "mm_wav_meta" -> ((s, d) => {
      import s.implicits._
      import graft.engine.{AudioHeaders => AH, Multimodal => M}
      val media = t(s, d, "documents").select(col("doc_id")).as[Long].map { id =>
        val ch = (id % 2 + 1).toInt
        val rate = 8000 + (id % 3).toInt * 4000
        val bits = if (id % 3 == 0) 8 else 16
        val n = ((id % 50 + 1) * 10).toInt
        M.MediaRecord(id, AH.wavBytes(ch, rate, bits, n), "audio/wav")
      }
      media.mapPartitions { it =>
        // codec init would sit here, once per partition
        it.flatMap { r =>
          AH.decode(r.payload).map { case (ch, rate, bits, ns) =>
            (r.doc_id, ch.toLong, rate.toLong, bits.toLong, ns, ns * 1000L / rate)
          }
        }
      }.toDF("doc_id", "channels", "sample_rate", "bits", "n_samples", "duration_ms")
        .orderBy("doc_id")
    }),

    // REAL byte-level JPEG dimension parse — the dominant web-crawl image
    // format, and the genuinely new parsing shape vs PNG/BMP: dims live at
    // a VARIABLE offset behind a marker-segment walk (SOI → APPn/COM/DQT →
    // SOF0/SOF2), so the decoder must hop untrusted big-endian segment
    // lengths to find the frame header. Synth: per-doc dims/filler from
    // doc_id, every 3rd doc progressive (SOF2), every 17th doc TRUNCATED to
    // 6 bytes — a corrupt payload the walker must drop (its segment length
    // points past the buffer), proving the hostile-length validation; those
    // doc_ids are absent from the output on both sides.
    "mm_jpeg_meta" -> ((s, d) => {
      import s.implicits._
      import graft.engine.{JpegHeaders => JH, Multimodal => M}
      val media = t(s, d, "documents").select(col("doc_id")).as[Long].map { id =>
        val w = (id % 1017 + 8).toInt
        val h = (id * 5 % 1017 + 8).toInt
        val full = JH.jpegBytes(w, h, (id % 32).toInt, progressive = id % 3 == 0)
        M.MediaRecord(id, if (id % 17 == 0) full.take(6) else full, "image/jpeg")
      }
      media.mapPartitions { it =>
        // codec init would sit here, once per partition
        it.flatMap { r =>
          JH.decode(r.payload).map { case (prog, w, h) =>
            (r.doc_id, prog, r.payload.length.toLong, w.toLong, h.toLong)
          }
        }
      }.toDF("doc_id", "progressive", "n_bytes", "width", "height")
        .orderBy("doc_id")
    }),

    // EXIF orientation + dimensions via a real TIFF IFD walk inside the
    // JPEG APP1 segment — the metadata a crawl pipeline MUST read before
    // decoding (orientation 5-8 swap the axes). Two genuinely new parsing
    // obligations vs the SOF walk: the byte order is DECLARED in the data
    // ('II' vs 'MM', alternated per doc here, so a single-endian parser
    // fails half the corpus), and SHORT values are LEFT-JUSTIFIED in the
    // 4-byte IFD value field. EXIF dims deliberately differ from the SOF
    // dims so a parser reading the frame header cannot pass for one
    // walking the IFD. Every 13th doc's IFD offset is stomped to point
    // past the segment — the untrusted-offset drop path, absent from the
    // output on both sides.
    "mm_exif_meta" -> ((s, d) => {
      import s.implicits._
      import graft.engine.{JpegHeaders => JH, Multimodal => M}
      val media = t(s, d, "documents").select(col("doc_id")).as[Long].map { id =>
        val b = JH.jpegExifBytes(
          sofW = (id % 1017 + 8).toInt, sofH = (id * 5 % 1017 + 8).toInt,
          exifW = (id * 3 % 2017 + 16).toInt, exifH = (id * 11 % 2017 + 16).toInt,
          orientation = (id % 8 + 1).toInt, bigEndian = id % 2 == 1,
          filler = (id % 16).toInt)
        val payload = if (id % 13 == 0) {
          val c = b.clone() // IFD offset (TIFF start + 4 = byte 16): huge
          c(16) = 0x7f; c(17) = 0x7f; c(18) = 0x7f; c(19) = 0x7f; c
        } else b
        M.MediaRecord(id, payload, "image/jpeg")
      }
      media.mapPartitions { it =>
        // codec init would sit here, once per partition
        it.flatMap { r =>
          JH.exifMeta(r.payload).map { case (big, orient, w, h) =>
            (r.doc_id, if (big) "MM" else "II", orient.toLong, w, h)
          }
        }
      }.toDF("doc_id", "endian", "orientation", "exif_w", "exif_h")
        .orderBy("doc_id")
    }),

    // per-source media-batch profile: the batch-shape check for feeding
    // mapInPandas/mapPartitions decoders (bytes per batch, rows per batch).
    "mm_batch_profile" -> ((s, d) =>
      t(s, d, "documents")
        .withColumn("n_bytes", octet_length(col("text").cast("binary")).cast("bigint"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
             sum("n_bytes").as("total_bytes"),
             max("n_bytes").as("max_bytes"),
             round(avg("n_bytes"), 4).as("avg_bytes"))
        .orderBy("source")),

    // ---- blur/sharpness filter (the image-curation twin of tx_quality):
    // every image-training pipeline drops low-detail frames before
    // captioning/embedding, and the standard cheap detector is gradient
    // mass (Tenengrad / Laplacian-variance family). Pixels are decoded by
    // the REAL bottom-up padded-stride BMP reader (engine.ImageHeaders
    // .bmpGray — shares no traversal code with the synth writer); the
    // sharpness statistic is the exact integer L1 gradient mass over all
    // horizontal+vertical neighbor pairs, so the census carries no float
    // the flag depends on (is_blurry is an integer compare against
    // 10·n_terms). Plants: id%5=0 ships a smooth ramp (low gradient),
    // everything else a quadratic hash texture (high gradient), id%13=0 a
    // truncated payload that must VANISH (hostile-length rule). The oracle
    // recomputes the whole grid closed-form from doc_id without seeing a
    // byte — only an exact synth→BMP→decode→gradient round-trip matches.
    // Scale shape: decode+gradient is one mapPartitions pass (codec-init-
    // once), per-image state only; output one row per image.
    "mm_blur_score" -> ((s, d) => {
      import s.implicits._
      import graft.engine.{ImageHeaders => IH, Multimodal => M}
      val media = t(s, d, "documents").select(col("doc_id")).as[Long].map { id =>
        val w = (id % 12 + 4).toInt
        val h = (id * 5 % 12 + 4).toInt
        val payload =
          if (id % 13 == 0) IH.bmpBytes(w, h, 3) // claims w×h, ships 3 bytes
          else if (id % 5 == 0)
            IH.bmpPixelBytes(w, h, (x, y) => (((x + y + id) % 16) * 2).toInt)
          else
            IH.bmpPixelBytes(w, h,
              (x, y) => ((x.toLong * x * 7 + y.toLong * y * 13 + id * 31) % 256).toInt)
        M.MediaRecord(id, payload, "image/bmp")
      }
      media.mapPartitions { it =>
        // codec init would sit here, once per partition
        it.flatMap { r =>
          IH.bmpGray(r.payload).map { case (w, h, g) =>
            var grad = 0L
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w - 1) {
                grad += math.abs(g(y * w + x + 1) - g(y * w + x)); x += 1
              }
              y += 1
            }
            y = 0
            while (y < h - 1) {
              var x = 0
              while (x < w) {
                grad += math.abs(g((y + 1) * w + x) - g(y * w + x)); x += 1
              }
              y += 1
            }
            val nTerms = h.toLong * (w - 1) + (h - 1).toLong * w
            (r.doc_id, w.toLong, h.toLong, nTerms, grad)
          }
        }
      }.toDF("doc_id", "width", "height", "n_terms", "grad_mass")
        .withColumn("mean_grad",
          round(col("grad_mass") / col("n_terms").cast("double"), 4))
        .withColumn("is_blurry", col("grad_mass") < lit(10L) * col("n_terms"))
        .orderBy("doc_id")
    }),

    // ---- clipping census over real sample bytes (the audio-curation twin
    // of mm_blur_score): ASR/speech pipelines drop clips whose waveform
    // saturates the int16 range. The synth plants saturated samples at
    // BOTH rails ((j+id) % m == 0 with per-clip modulus m = 11+id%10, the
    // rail picked by the multiple's parity — so −32768, the value with no
    // positive counterpart, is exercised in encode AND decode), against a
    // background confined to ±15000. The decoder is the shared sign-
    // extending samples16; the flag is pure integer arithmetic
    // (100·n_clipped > 5·n_samples), so densities straddling the 5%
    // threshold (1/11…1/20) flag deterministically on both engines.
    // id%23=0 ships a truncated payload (declared data length exceeds the
    // bytes) and must vanish via the decoder's hostile-length rule.
    "mm_audio_clipping" -> ((s, d) => {
      import s.implicits._
      import graft.engine.{AudioHeaders => AH, Multimodal => M}
      val media = t(s, d, "documents").select(col("doc_id")).as[Long].map { id =>
        val n = ((id % 30 + 2) * 16).toInt
        val m = (11 + id % 10).toInt
        val b = AH.wavBytes(1, 8000, 16, n)
        var j = 0
        while (j < n) {
          val v =
            if ((j + id) % m == 0) {
              if (((j + id) / m) % 2 == 0) 32767 else -32768
            } else (((id * 13 + j * 7) % 30000) - 15000).toInt
          b(AH.WavHeaderLen + 2 * j) = (v & 0xff).toByte
          b(AH.WavHeaderLen + 2 * j + 1) = ((v >> 8) & 0xff).toByte
          j += 1
        }
        val payload = if (id % 23 == 0) b.dropRight(5) else b
        M.MediaRecord(id, payload, "audio/wav")
      }
      media.mapPartitions { it =>
        // codec init would sit here, once per partition
        it.flatMap { r =>
          AH.samples16(r.payload).map { ss =>
            var clipped = 0L
            ss.foreach { v => if (v == 32767 || v == -32768) clipped += 1 }
            (r.doc_id, ss.length.toLong, clipped)
          }
        }
      }.toDF("doc_id", "n_samples", "n_clipped")
        .withColumn("clip_ratio",
          round(col("n_clipped") / col("n_samples").cast("double"), 4))
        .withColumn("is_clipped", col("n_clipped") * 100 > col("n_samples") * 5)
        .orderBy("doc_id")
    })
  ) ++ ImageDedup.queries ++ AudioDedup.queries

  val oracles: Map[String, String] = Map(
    "mm_binary_meta" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(1, 9),
        |    i -> CAST(coalesce(ascii(string_split(text, '')[CAST(i AS INTEGER)]), 0) AS BIGINT))),
        |    (a, x) -> a + x) AS head_checksum
        |FROM documents ORDER BY doc_id""".stripMargin,

    "mm_decode_stub" ->
      """SELECT doc_id, n_bytes, n_bytes % 64 + 1 AS width, n_bytes * 7 % 64 + 1 AS height,
        |  n_bytes % 10 + 1 AS n_frames,
        |  round(CAST(n_bytes % 256 AS DOUBLE) / 255.0, 4) AS fake_mean_pixel
        |FROM (SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes FROM documents)
        |ORDER BY doc_id""".stripMargin,

    // synthesis formulas, independently re-derived — the byte parser must
    // recover every PCM parameter exactly
    // samples independently re-derived from the synthesis formula: data
    // byte j = (doc_id·13 + j·7) mod 256; sample i = sign-extended high
    // byte (2i+1) · 256 + unsigned low byte (2i)
    "mm_audio_energy" ->
      """WITH s AS (SELECT doc_id, doc_id % 2 + 1 AS ch, (doc_id % 40 + 1) * 8 AS n
        |  FROM documents),
        |samp AS (SELECT doc_id, n * ch AS total, unnest(range(0, n * ch)) AS i FROM s),
        |v AS (SELECT doc_id, total,
        |    (CASE WHEN (doc_id*13 + (2*i+1)*7) % 256 >= 128
        |          THEN (doc_id*13 + (2*i+1)*7) % 256 - 256
        |          ELSE (doc_id*13 + (2*i+1)*7) % 256 END) * 256
        |    + (doc_id*13 + (2*i)*7) % 256 AS val
        |  FROM samp)
        |SELECT doc_id, CAST(any_value(total) AS BIGINT) AS n_samples_total,
        |  round(sqrt(sum(CAST(val AS DOUBLE) * val) / any_value(total)), 4) AS rms,
        |  CAST(max(abs(val)) AS BIGINT) AS peak
        |FROM v GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // pure doc_id arithmetic: the silence rule (f² + id) % 5 == 0 replayed
    // per frame, speech runs island-merged with the cumulative-silence
    // trick — agreement proves the synth→RIFF→decode→frame round-trip
    "mm_audio_segments" ->
      """WITH fr AS (SELECT doc_id, unnest(range(0, doc_id % 20 + 5)) AS f
        |  FROM documents),
        |sp AS (SELECT doc_id, f, ((f*f + doc_id) % 5 != 0) AS speech FROM fr),
        |g AS (SELECT doc_id, f, speech,
        |    sum(CASE WHEN speech THEN 0 ELSE 1 END) OVER (
        |      PARTITION BY doc_id ORDER BY f ROWS UNBOUNDED PRECEDING) AS grp
        |  FROM sp),
        |segs AS (SELECT doc_id, grp, count(*) AS len
        |  FROM g WHERE speech GROUP BY doc_id, grp),
        |agg AS (SELECT doc_id, count(*) AS n_segments,
        |    CAST(max(len) AS BIGINT) AS longest_segment,
        |    CAST(sum(len) AS BIGINT) AS n_speech FROM segs GROUP BY doc_id),
        |base AS (SELECT doc_id, CAST(doc_id % 20 + 5 AS BIGINT) AS n_frames
        |  FROM documents)
        |SELECT b.doc_id, n_frames,
        |  coalesce(n_speech, CAST(0 AS BIGINT)) AS n_speech_frames,
        |  coalesce(n_segments, CAST(0 AS BIGINT)) AS n_segments,
        |  coalesce(longest_segment, CAST(0 AS BIGINT)) AS longest_segment,
        |  round(coalesce(n_speech, 0) / CAST(n_frames AS DOUBLE), 4) AS speech_ratio
        |FROM base b LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin,

    "mm_wav_meta" ->
      """SELECT doc_id,
        |  CAST(doc_id % 2 + 1 AS BIGINT) AS channels,
        |  CAST(8000 + (doc_id % 3) * 4000 AS BIGINT) AS sample_rate,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 8 ELSE 16 END AS BIGINT) AS bits,
        |  CAST((doc_id % 50 + 1) * 10 AS BIGINT) AS n_samples,
        |  CAST(((doc_id % 50 + 1) * 10 * 1000) // (8000 + (doc_id % 3) * 4000) AS BIGINT) AS duration_ms
        |FROM documents ORDER BY doc_id""".stripMargin,

    // synthesis formulas, independently re-derived: PNG header is 33 bytes,
    // BMP 54; the first-8-byte checksum is the PNG signature sum (425) or
    // 'B'+'M'+size-LE-low-byte (143 + 54 + filler); dims are the synth
    // formulas the byte parser must recover exactly
    "mm_decode_real" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS fmt,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 33 ELSE 54 END + doc_id % 32 AS BIGINT) AS n_bytes,
        |  CAST(doc_id % 1017 + 8 AS BIGINT) AS width,
        |  CAST((doc_id * 7) % 1017 + 8 AS BIGINT) AS height,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 425 ELSE 197 + doc_id % 32 END AS BIGINT) AS checksum
        |FROM documents ORDER BY doc_id""".stripMargin,

    // sampled indices and checksums independently re-derived from the
    // synthesis formulas (the Spark side must recover them by parsing bytes)
    "mm_frame_sample" ->
      """WITH f AS (
        |  SELECT doc_id, CAST(doc_id % 10 + 1 AS BIGINT) AS n_frames,
        |    unnest(range(0, doc_id % 10 + 1, 3)) AS frame_idx
        |  FROM documents)
        |SELECT doc_id, n_frames, CAST(frame_idx AS BIGINT) AS frame_idx,
        |  CAST(list_reduce(list_transform(range(0, 16),
        |    j -> (doc_id * 31 + frame_idx * 17 + j) % 256), (a, x) -> a + x) AS BIGINT) AS frame_checksum
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin,

    // closed-form from the plant rule: cuts at f % sl = 0; max_diff's wrap
    // arithmetic (a +53 mod-256 shift is |53| or |203| per byte depending
    // on where the older frame's residue sits) re-derived per scene —
    // matching proves the diff stream really read the bytes
    "mm_scene_cuts" ->
      """WITH p AS (SELECT doc_id, doc_id % 10 + 4 AS n, doc_id % 4 + 2 AS sl
        |  FROM documents WHERE doc_id % 13 <> 0),
        |sc AS (SELECT doc_id, n, sl, unnest(range(1, (n - 1) // sl + 1)) AS s FROM p),
        |w AS (SELECT doc_id, s,
        |    len(list_filter(range(0, 16),
        |      j -> (doc_id * 31 + (s - 1) * 53 + j) % 256 >= 203)) AS wr
        |  FROM sc),
        |md AS (SELECT doc_id, max((16 - wr) * 53 + wr * 203) AS max_diff
        |       FROM w GROUP BY doc_id)
        |SELECT p.doc_id, CAST(n AS BIGINT) AS n_frames,
        |  CAST((n - 1) // sl AS BIGINT) AS n_cuts,
        |  CAST(coalesce(md.max_diff, 0) AS BIGINT) AS max_diff,
        |  CAST(sl AS BIGINT) AS scene_len
        |FROM p LEFT JOIN md USING (doc_id) ORDER BY p.doc_id""".stripMargin,

    "mm_resize_plan" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS fmt,
        |  width, height, greatest(width, height) > 256 AS needs_resize,
        |  CAST(CASE WHEN greatest(width, height) <= 256 THEN width
        |       WHEN width >= height THEN 256
        |       ELSE greatest(1, floor(width * 256.0 / height)) END AS BIGINT) AS target_w,
        |  CAST(CASE WHEN greatest(width, height) <= 256 THEN height
        |       WHEN width >= height THEN greatest(1, floor(height * 256.0 / width))
        |       ELSE 256 END AS BIGINT) AS target_h
        |FROM (SELECT doc_id, CAST(doc_id % 1017 + 8 AS BIGINT) AS width,
        |        CAST((doc_id * 7) % 1017 + 8 AS BIGINT) AS height
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,

    // synthesis formulas independently re-derived (header 39 bytes + filler;
    // dims from the doc_id formulas; SOF2 flag = doc_id % 3 = 0); the
    // truncated every-17th docs are EXCLUDED — the byte walker must drop
    // them, so their presence on either side breaks the match
    "mm_jpeg_meta" ->
      """SELECT doc_id,
        |  doc_id % 3 = 0 AS progressive,
        |  CAST(39 + doc_id % 32 AS BIGINT) AS n_bytes,
        |  CAST(doc_id % 1017 + 8 AS BIGINT) AS width,
        |  CAST((doc_id * 5) % 1017 + 8 AS BIGINT) AS height
        |FROM documents WHERE doc_id % 17 != 0 ORDER BY doc_id""".stripMargin,

    // synthesis formulas re-derived; the 13th-doc IFD-offset stomp must
    // drop on the Spark side for the row sets to match
    "mm_exif_meta" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 1 THEN 'MM' ELSE 'II' END AS endian,
        |  CAST(doc_id % 8 + 1 AS BIGINT) AS orientation,
        |  CAST((doc_id * 3) % 2017 + 16 AS BIGINT) AS exif_w,
        |  CAST((doc_id * 11) % 2017 + 16 AS BIGINT) AS exif_h
        |FROM documents WHERE doc_id % 13 != 0 ORDER BY doc_id""".stripMargin,

    "mm_batch_profile" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
        |  max(n_bytes) AS max_bytes, round(avg(n_bytes), 4) AS avg_bytes
        |FROM (SELECT source, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes FROM documents)
        |GROUP BY source ORDER BY source""".stripMargin,

    // closed-form pixel-grid replay from doc_id — never sees a byte; the
    // corrupt (id%13) clips are excluded because the reader must drop them
    "mm_blur_score" ->
      """WITH img AS (
        |  SELECT doc_id, doc_id % 12 + 4 AS w, doc_id * 5 % 12 + 4 AS h
        |  FROM documents WHERE doc_id % 13 <> 0),
        |grid AS (
        |  SELECT doc_id, w, h,
        |    list_transform(range(0, h), y -> list_transform(range(0, w), x ->
        |      CASE WHEN doc_id % 5 = 0 THEN ((x + y + doc_id) % 16) * 2
        |           ELSE (x*x*7 + y*y*13 + doc_id*31) % 256 END)) AS g
        |  FROM img),
        |m AS (
        |  SELECT doc_id, w, h,
        |    CAST(h * (w-1) + (h-1) * w AS BIGINT) AS n_terms,
        |    CAST(
        |      list_sum(flatten(list_transform(range(0, h), y ->
        |        list_transform(range(0, w-1), x -> abs(g[y+1][x+2] - g[y+1][x+1]))))) +
        |      list_sum(flatten(list_transform(range(0, h-1), y ->
        |        list_transform(range(0, w), x -> abs(g[y+2][x+1] - g[y+1][x+1])))))
        |    AS BIGINT) AS grad_mass
        |  FROM grid)
        |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  n_terms, grad_mass,
        |  round(grad_mass / CAST(n_terms AS DOUBLE), 4) AS mean_grad,
        |  (grad_mass < 10 * n_terms) AS is_blurry
        |FROM m ORDER BY doc_id""".stripMargin,

    // the oracle counts the PLANT RULE; the Spark side counts rail values
    // recovered through the sign-extending byte decode — only an exact
    // int16 encode→decode round-trip (including −32768) matches
    "mm_audio_clipping" ->
      """WITH a AS (
        |  SELECT doc_id, (doc_id % 30 + 2) * 16 AS n, 11 + doc_id % 10 AS m
        |  FROM documents WHERE doc_id % 23 <> 0),
        |c AS (
        |  SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
        |    CAST(len(list_filter(range(0, n), j -> (j + doc_id) % m = 0)) AS BIGINT) AS n_clipped
        |  FROM a)
        |SELECT doc_id, n_samples, n_clipped,
        |  round(n_clipped / CAST(n_samples AS DOUBLE), 4) AS clip_ratio,
        |  (n_clipped * 100 > n_samples * 5) AS is_clipped
        |FROM c ORDER BY doc_id""".stripMargin
  ) ++ ImageDedup.oracles ++ AudioDedup.oracles
}
