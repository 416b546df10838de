package graft.multimodal

import graft.QuerySpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Oracle-checkable slice of the multimodal pipeline: media payloads
  * are synthesized deterministically from the documents table (GRFT
  * header dimensions derived from doc_id, payload = UTF-8 text
  * bytes), pushed through the binary encode → typed decode path on
  * executors, and the decoded metadata is verified value-for-value —
  * the header math and byte accounting are exactly computable in SQL,
  * so the codec plumbing itself sits inside the correctness gate
  * (the GRFT codec stands in for a real image codec; the Spark-side
  * shapes are what is being proven).
  */
object MultimodalQueries {

  /** The muxed per-doc AVI corpus feeding q118: synthesized once per
    * (session, dir) and persisted, the [[graft.operators
    * .TextPipelineQueries]] shared-intermediate lifecycle. The mux is
    * FIXTURE construction (ImageIO-encoding ~2.5 JPEG frames per doc
    * plus the RIFF wrap); without the cache every bench iteration
    * re-paid it and the q118 number measured the fixture, not the
    * demux+decode operator under test. */
  private val aviCache =
    scala.collection.concurrent.TrieMap[(String, String), DataFrame]()

  private def sessionKey(s: SparkSession): String =
    try s.getClass.getMethod("sessionUUID").invoke(s).asInstanceOf[String]
    catch { case _: ReflectiveOperationException =>
      String.valueOf(System.identityHashCode(s)) }

  private def aviTab(s: SparkSession, d: String): DataFrame =
    aviCache.getOrElseUpdate((sessionKey(s), d), {
      import s.implicits._
      t(s, d, "documents").select($"doc_id").as[Long]
        .map { id =>
          val w = (id % 16 + 8).toInt
          val h = (id % 12 + 8).toInt
          val n = (id % 3 + 2).toInt
          val frames = (0 until n).map { f =>
            val img = new java.awt.image.BufferedImage(
              w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
            for (y <- 0 until h; x <- 0 until w)
              img.setRGB(x, y, (((x * 7 + f * 29) % 256) << 16) |
                (((y * 11 + id % 97) % 256).toInt << 8) | ((x + y + f) % 256))
            jpegBytes(img)
          }
          Multimodal.MediaRecord(id, Avi.encodeMjpeg(w, h, 10, frames))
        }.toDF()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    })

  /** The q170/q171 video-dedup fixture: per-doc AVIs muxing LOSSLESS
    * (PNG) frames whose pixel fills are closed-form in
    * (class, frame-content), so every per-frame dHash — and therefore
    * the whole near-dup group structure — is exactly recomputable in
    * SQL. Videos share one of 6 content classes (`doc_id % 6`,
    * class+2 frames each); every 31st doc appends one EXTRA frame
    * (content id 99) — the "same clip with an outro card"
    * near-duplicate that hash-set containment must still score 1.0.
    * (The lossy-JPEG robustness half of the operator is exercised in
    * MultimodalSpec with real ImageIO re-encodes, where no SQL oracle
    * can predict pixels.) Cached like the MJPEG corpus: the mux is
    * fixture construction, not the operator under test. */
  private def pngAviTab(s: SparkSession, d: String): DataFrame =
    aviCache.getOrElseUpdate((sessionKey(s), d + "#png"), {
      import s.implicits._
      t(s, d, "documents").select($"doc_id").as[Long]
        .map { id =>
          val c = (id % 6).toInt
          val w = 16 + c
          val h = 12 + c
          val contents = (0 until c + 2) ++
            (if (id % 31 == 0) Seq(99) else Nil)
          val frames = contents.map { fc =>
            val px = Array.tabulate(w * h * 3)(i =>
              ((c * 37 + fc * 13 + i * 11) % 241).toByte)
            Multimodal.Png.encode(w, h, 3, px)
          }
          Multimodal.MediaRecord(id, Avi.encodeMjpeg(w, h, 10, frames))
        }.toDF()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    })

  /** The q195/q196 audio-dedup fixture: per-doc WAV clips of
    * constant-amplitude 400-frame segments, amplitudes closed-form in
    * (class = doc_id % 5, segment); every 41st doc appends one outro
    * segment. Constant segments make each 400-frame window's RMS and
    * peak EXACT (amp/32768, an exact binary fraction), so the
    * quantized window hash is engine-computable: 520·((c·7+k·11)%8).
    * Built per call — WAV synthesis is cheap next to the AVI mux. */
  private def audioDupTab(s: SparkSession, d: String)
      : org.apache.spark.sql.Dataset[Multimodal.MediaRecord] = {
    import s.implicits._
    t(s, d, "documents").select($"doc_id").as[Long]
      .map { id =>
        val c = (id % 5).toInt
        val segs = (0 until c % 3 + 3) ++
          (if (id % 41 == 0) Seq(99) else Nil)
        val pcm = segs.toArray.flatMap { k =>
          val amp = (((c * 7 + k * 11) % 8) * 4096).toShort
          Array.fill(400)(amp)
        }
        Multimodal.MediaRecord(id, Audio.Wav.encode(8000, 1, pcm))
      }
  }

  /** Force-materialize the shared AVI fixture corpora (bench harness
    * calls this once, reported inside its cache-build line item). */
  def warmCaches(s: SparkSession, d: String): Unit = {
    aviTab(s, d).count()
    pngAviTab(s, d).count()
  }

  /** Unpersist and drop this session's cached AVI corpus. */
  def clearCache(s: SparkSession): Unit = {
    val key = sessionKey(s)
    aviCache.keys.filter(_._1 == key).foreach { k =>
      aviCache.remove(k).foreach(_.unpersist(blocking = false))
    }
  }

  /** The q62 fixture corpus decoded and difference-hashed —
    * (media_id, img_hash), real PNG encode/decode per row. Shared by
    * the group view (q62) and the keep-one materialization (q164). */
  /** q164's verdict SQL — also the inner query of the q227 store
    * manifest oracle. */
  private val imageKeepOneSql: String =
    """WITH cls AS (SELECT doc_id, doc_id % 7 AS c FROM documents),
      |bits AS (SELECT doc_id, c, unnest(range(0, 48)) AS j FROM cls),
      |h AS (SELECT doc_id,
      |  CAST(sum(CASE WHEN (c*37 + j*11) % 241 > (c*37 + (j+1)*11) % 241
      |           THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS img_hash
      |  FROM bits GROUP BY doc_id),
      |g AS (SELECT img_hash, CAST(min(doc_id) AS BIGINT) AS keep_id
      |      FROM h GROUP BY img_hash)
      |SELECT h.doc_id AS media_id, h.img_hash, g.keep_id,
      |       h.doc_id = g.keep_id AS is_keeper
      |FROM h JOIN g USING (img_hash)""".stripMargin

  /** The PNG fixture corpus itself (media_id, content) — shared by
    * the dhash view and the image keep-one STORE (q227). */
  private def pngTab(s: SparkSession, d: String) = {
    import s.implicits._
    t(s, d, "documents").select($"doc_id").as[Long]
      .map { id =>
        val c = (id % 7).toInt
        val w = 16 + c; val h = 12 + c
        val px = Array.tabulate(w * h * 3)(i => ((c * 37 + i * 11) % 241).toByte)
        Multimodal.MediaRecord(id, Multimodal.Png.encode(w, h, 3, px))
      }
  }

  private def dhashedMedia(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val media = pngTab(s, d)
    media.mapPartitions(_.map { r =>
      val px = Multimodal.Codec.payload(r.content)
      var hash = 0L
      var j = 0
      while (j < 48) {
        if ((px(j) & 0xff) > (px(j + 1) & 0xff)) hash |= 1L << j
        j += 1
      }
      (r.media_id, hash)
    }).toDF("media_id", "img_hash")
  }

  lazy val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q40_multimodal_decode", (s, d) => {
      import s.implicits._
      val media = t(s, d, "documents").select($"doc_id", $"text")
        .as[(Long, String)]
        .map { case (id, tx) =>
          Multimodal.MediaRecord(id, Multimodal.Codec.encode(
            (id % 64 + 1).toInt, (id % 48 + 1).toInt, 3, tx.getBytes("UTF-8")))
        }
      Multimodal.decodeMeta(media)
        .select($"media_id",
          $"meta.width".cast("long").as("width"),
          $"meta.height".cast("long").as("height"),
          $"meta.channels".cast("long").as("channels"),
          $"meta.nBytes".as("n_bytes"))
    },
      // header = 4-byte magic + 2 x i32 dims + 1 channel byte = 13 bytes
      """SELECT doc_id AS media_id,
        | CAST(doc_id % 64 + 1 AS BIGINT) AS width,
        | CAST(doc_id % 48 + 1 AS BIGINT) AS height,
        | CAST(3 AS BIGINT) AS channels,
        | CAST(13 + strlen(text) AS BIGINT) AS n_bytes
        |FROM documents""".stripMargin),
    // The REAL WAV codec through the gate: constant-amplitude PCM16
    // clips synthesized from doc_id, encoded with Wav.encode on
    // executors, then decoded + feature-extracted by the distributed
    // audio operators. For a constant signal the features have exact
    // closed forms (rms = peak = amp/32768, duration = frames/8 ms at
    // 8 kHz), all in exact binary fractions — so encode → chunk walk →
    // sample decode → feature math is value-checked end-to-end.
    QuerySpec("q58_audio_features", (s, d) => {
      import s.implicits._
      val media = t(s, d, "documents").select($"doc_id").as[Long]
        .map { id =>
          val frames = (400 + (id % 5) * 80).toInt
          val amp = ((id % 8) * 4096).toShort
          Multimodal.MediaRecord(id,
            Audio.Wav.encode(8000, 1, Array.fill(frames)(amp)))
        }
      Audio.extractFeatures(media)
        .select($"media_id", $"duration_ms",
          round($"rms", 6).as("rms"), round($"peak", 6).as("peak"))
    },
      """SELECT doc_id AS media_id,
        | CAST((400 + (doc_id % 5) * 80) // 8 AS BIGINT) AS duration_ms,
        | round((doc_id % 8) * 4096 / 32768.0, 6) AS rms,
        | round((doc_id % 8) * 4096 / 32768.0, 6) AS peak
        |FROM documents""".stripMargin),
    // The REAL image codecs through the gate — the q58 pattern applied
    // to pixels: deterministic fills synthesized from doc_id, encoded
    // on executors with the real PPM writer (even ids) or the real PNG
    // writer (odd ids: deflate, filter bytes, CRCs), decoded back
    // distributed through Codec dispatch, and the decoded pixels
    // reduced to exact order-pinning scalars (Σv and Σi·v) that SQL
    // recomputes from the fill's closed form. Any byte the round trip
    // loses, reorders, or invents moves the sums.
    QuerySpec("q60_image_roundtrip", (s, d) => {
      import s.implicits._
      val media = t(s, d, "documents").select($"doc_id").as[Long]
        .map { id =>
          val w = (id % 24 + 1).toInt
          val h = (id % 16 + 1).toInt
          val px = Array.tabulate(w * h * 3)(i =>
            ((id * 31 + i.toLong * 7) % 251).toByte)
          val bytes =
            if (id % 2 == 0) Multimodal.Pnm.encode(w, h, 3, px)
            else Multimodal.Png.encode(w, h, 3, px)
          Multimodal.MediaRecord(id, bytes)
        }
      media.mapPartitions(_.map { r =>
        val m = Multimodal.Codec.decodeMeta(r.content).get
        val px = Multimodal.Codec.payload(r.content)
        var sum = 0L; var dot = 0L; var i = 0
        while (i < px.length) {
          val v = px(i) & 0xff; sum += v; dot += i.toLong * v; i += 1
        }
        (r.media_id, m.width.toLong, m.height.toLong, m.channels.toLong,
          m.format, px.length.toLong, sum, dot)
      }).toDF("media_id", "width", "height", "channels", "fmt",
        "n_px", "px_sum", "px_dot")
    },
      """WITH dims AS (
        |  SELECT doc_id, CAST(doc_id % 24 + 1 AS BIGINT) AS width,
        |         CAST(doc_id % 16 + 1 AS BIGINT) AS height
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, width, height,
        |         unnest(range(0, width*height*3)) AS i
        |  FROM dims)
        |SELECT doc_id AS media_id, width, height,
        |  CAST(3 AS BIGINT) AS channels,
        |  CASE WHEN doc_id % 2 = 0 THEN 'ppm' ELSE 'png' END AS fmt,
        |  CAST(width*height*3 AS BIGINT) AS n_px,
        |  CAST(sum((doc_id * 31 + i * 7) % 251) AS BIGINT) AS px_sum,
        |  CAST(sum(i * ((doc_id * 31 + i * 7) % 251)) AS BIGINT) AS px_dot
        |FROM px GROUP BY doc_id, width, height""".stripMargin),
    // Perceptual image dedup — dHash over DECODED pixels, riding the
    // real PNG codec end-to-end: docs share one of 7 visual classes
    // (fill and dims derived from doc_id % 7), every class member
    // encodes and decodes independently on executors, and the
    // difference hash (adjacent-pixel comparisons over the first 48
    // decoded samples) lands identical within a class. Output is the
    // dedup artifact: (img_hash, n_docs, keep_id). The oracle
    // recomputes the hash bits from the fill's closed form — a decode
    // that flips ANY byte moves the hash and breaks the groups.
    QuerySpec("q62_image_dhash_groups", (s, d) =>
      dhashedMedia(s, d).groupBy(col("img_hash"))
        .agg(count(lit(1)).as("n_docs"), min(col("media_id")).as("keep_id")),
      """WITH cls AS (SELECT doc_id, doc_id % 7 AS c FROM documents),
        |bits AS (SELECT doc_id, c, unnest(range(0, 48)) AS j FROM cls),
        |h AS (SELECT doc_id,
        |  CAST(sum(CASE WHEN (c*37 + j*11) % 241 > (c*37 + (j+1)*11) % 241
        |           THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS img_hash
        |  FROM bits GROUP BY doc_id)
        |SELECT img_hash, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(min(doc_id) AS BIGINT) AS keep_id
        |FROM h GROUP BY img_hash""".stripMargin),
    // The ACT on q62's detect, extending keep-one materialization
    // (q52) to the image modality: every media row with its group's
    // canonical keeper and its own verdict — the table the physical
    // delete/copy step consumes. Same decode, one extra
    // group-min join.
    QuerySpec("q164_image_keep_one", (s, d) => {
      val hashed = dhashedMedia(s, d)
      hashed.join(hashed.groupBy(col("img_hash"))
          .agg(min(col("media_id")).as("keep_id")), Seq("img_hash"))
        .select(col("media_id"), col("img_hash"), col("keep_id"),
          (col("media_id") === col("keep_id")).as("is_keeper"))
    },
      imageKeepOneSql),
    // Edge-silence trimming through the gate: clips built as
    // silence + tone + silence at exact 50 ms window multiples, so the
    // trimmed clip's duration and features have closed forms
    // (window framing matches sliceWindows — the spec's alignment
    // property is what makes this exactly predictable). Every 11th
    // doc is all-silence and must DROP from the output entirely — the
    // curation filter the operator exists for.
    QuerySpec("q63_audio_trim", (s, d) => {
      import s.implicits._
      val media = t(s, d, "documents").select($"doc_id").as[Long]
        .map { id =>
          val fpw = 400 // 50 ms at 8 kHz
          val loudW = if (id % 11 == 0) 0 else (2 + id % 4).toInt
          val amp = ((id % 6 + 1) * 4096).toShort
          val samples =
            Array.fill((id % 3).toInt * fpw)(0.toShort) ++
              Array.fill(loudW * fpw)(amp) ++
              Array.fill((id % 2).toInt * fpw)(0.toShort)
          Multimodal.MediaRecord(id, Audio.Wav.encode(8000, 1, samples))
        }
      Audio.extractFeatures(
        Audio.trimSilenceAll(media, windowMs = 50, threshold = 0.01))
        .select($"media_id", $"duration_ms",
          round($"rms", 6).as("rms"), round($"peak", 6).as("peak"))
    },
      """SELECT doc_id AS media_id,
        | CAST((2 + doc_id % 4) * 50 AS BIGINT) AS duration_ms,
        | round((doc_id % 6 + 1) * 4096 / 32768.0, 6) AS rms,
        | round((doc_id % 6 + 1) * 4096 / 32768.0, 6) AS peak
        |FROM documents WHERE doc_id % 11 <> 0""".stripMargin),
    // Frame sampling for "video" payloads: fixed-size frames, every
    // 2nd kept — the flatMap shape and byte accounting are exactly
    // recomputable from the text length.
    QuerySpec("q64_video_frames", (s, d) => {
      import s.implicits._
      val media = t(s, d, "documents").select($"doc_id", $"text")
        .as[(Long, String)]
        .map { case (id, tx) =>
          Multimodal.MediaRecord(id, Multimodal.Codec.encode(
            8, 8, 3, tx.getBytes("UTF-8")))
        }
      Multimodal.sampleFrames(media, frameBytes = 32, stride = 2)
        .select($"media_id", $"frame_idx".cast("long").as("frame_idx"),
          length($"frame").cast("long").as("n_bytes"))
    },
      """WITH f AS (SELECT doc_id, strlen(text) AS len,
        |  unnest(range(0, CAST(ceil(strlen(text) / 32.0) AS BIGINT))) AS i
        |  FROM documents)
        |SELECT doc_id AS media_id, CAST(i AS BIGINT) AS frame_idx,
        |  CAST(least(32, len - i * 32) AS BIGINT) AS n_bytes
        |FROM f WHERE i % 2 = 0""".stripMargin),
    // REAL video end to end: per-doc MJPEG AVIs muxed on executors
    // from ImageIO-encoded JPEG frames (the JDK reference codec, the
    // JpegDecodeSpec anchor), demuxed by the RIFF walker, every
    // second frame pixel-decoded by the NATIVE JPEG decoder. The
    // oracle pins the closed-form fields — frame count, sampled
    // indices, SOF dimensions, decoded pixel-buffer size (which is
    // only right when the Huffman+IDCT pipeline actually ran) —
    // while pixel VALUES, unpredictable in SQL for a lossy codec,
    // are cross-checked against ImageIO in MultimodalSpec.
    QuerySpec("q118_video_mjpeg", (s, d) => {
      import s.implicits._
      aviTab(s, d).as[Multimodal.MediaRecord].flatMap { r =>
        Avi.frames(r.content).zipWithIndex.collect {
          case (jpeg, idx) if idx % 2 == 0 =>
            val (w, h, _, px) = JpegDecode.decode(jpeg)
              .getOrElse(throw new IllegalStateException(
                s"frame $idx of ${r.media_id} did not decode"))
            (r.media_id, idx.toLong, w.toLong, h.toLong, px.length.toLong)
        }
      }.toDF("media_id", "frame_idx", "width", "height", "n_px")
    },
      // n_px = decoded pixel-buffer length: right only when the RIFF
      // walk found every frame AND the native JPEG decode produced a
      // full w*h*3 interleaved buffer for each sampled one.
      """WITH f AS (SELECT doc_id,
        |  unnest(range(0, doc_id % 3 + 2)) AS i FROM documents)
        |SELECT doc_id AS media_id, CAST(i AS BIGINT) AS frame_idx,
        |  CAST(doc_id % 16 + 8 AS BIGINT) AS width,
        |  CAST(doc_id % 12 + 8 AS BIGINT) AS height,
        |  CAST((doc_id % 16 + 8) * (doc_id % 12 + 8) * 3 AS BIGINT) AS n_px
        |FROM f WHERE i % 2 = 0""".stripMargin),
    // The per-frame perceptual signature table — demux (RIFF walk) +
    // real PNG pixel decode + dHash, the substrate of video dedup.
    // The oracle recomputes every hash bit from the fill's closed
    // form: a decode that drops, reorders, or perturbs ANY frame
    // byte moves some hash and fails the gate.
    QuerySpec("q170_video_framesig", (s, d) => {
      import s.implicits._
      VideoDedup.frameSignatures(pngAviTab(s, d).as[Multimodal.MediaRecord])
    },
      // closed-form dHash per (class, frame-content): px[i] =
      // (c*37 + fc*13 + i*11) % 241, bit j set iff px[j] > px[j+1]
      """WITH v AS (SELECT doc_id, CAST(doc_id % 6 AS BIGINT) AS c FROM documents),
        |fr AS (SELECT doc_id, c, unnest(range(0, c + 2 +
        |         CASE WHEN doc_id % 31 = 0 THEN 1 ELSE 0 END)) AS fi FROM v),
        |ff AS (SELECT doc_id, CAST(fi AS BIGINT) AS frame_idx,
        |       CASE WHEN doc_id % 31 = 0 AND fi = c + 2 THEN 99 ELSE fi END AS fc,
        |       c FROM fr),
        |bits AS (SELECT doc_id, frame_idx, fc, c, unnest(range(0, 48)) AS j FROM ff)
        |SELECT doc_id AS media_id, frame_idx,
        |  CAST(sum(CASE WHEN (c*37 + fc*13 + j*11) % 241 >
        |                     (c*37 + fc*13 + (j+1)*11) % 241
        |           THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS fhash
        |FROM bits GROUP BY doc_id, frame_idx""".stripMargin),
    // Video NEAR-dup groups — the q62/q164 detect+act contract for
    // the video modality: banded frame-hash candidates, exact-hamming
    // verify, hash-set containment (an extra outro frame still scores
    // 1.0), connected components, keep-one. The oracle rebuilds the
    // same candidate/verify/closure chain in SQL, so both the
    // grouping topology AND the keeper choice go through the gate.
    QuerySpec("q171_video_neardup", (s, d) => {
      import s.implicits._
      VideoDedup.nearDupGroups(
        VideoDedup.frameSignatures(pngAviTab(s, d).as[Multimodal.MediaRecord]))
    },
      // the same banded-candidate / hamming-verify / containment /
      // transitive-closure chain, engine for engine (q41's recursive
      // reach pattern for the CC half)
      videoNearDupSql),
    // The audio-dedup substrate through the gate: real WAV encode on
    // executors, RIFF walk + PCM decode, fixed 400-frame windows,
    // quantized (RMS, peak) hashes. Clips share one of 5 acoustic
    // classes (doc_id % 5; constant-amplitude 400-frame segments make
    // every window level an exact closed form) and every 41st doc
    // appends an outro segment — the audio fixture mirroring the
    // video one.
    QuerySpec("q195_audio_window_sig", (s, d) => {
      import s.implicits._
      AudioDedup.windowSignatures(audioDupTab(s, d))
    },
      // closed-form window hashes: constant segments make
      // rms = peak = m·4096/32768 = m/8 exact → hash = 8m·64 + 8m
      """WITH v AS (SELECT doc_id, CAST(doc_id % 5 AS BIGINT) AS c FROM documents),
        |f AS (SELECT doc_id, c, unnest(range(0, c % 3 + 3 +
        |        CASE WHEN doc_id % 41 = 0 THEN 1 ELSE 0 END)) AS k FROM v),
        |sg AS (SELECT doc_id, CAST(k AS BIGINT) AS frame_idx,
        |       CASE WHEN doc_id % 41 = 0 AND k = c % 3 + 3 THEN 99 ELSE k END
        |         AS seg, c FROM f)
        |SELECT doc_id AS media_id, frame_idx,
        |  CAST(520 * ((c*7 + seg*11) % 8) AS BIGINT) AS fhash
        |FROM sg""".stripMargin),
    // Audio NEAR-dup groups — the detect+act contract for the last
    // modality without one, run on the SAME modality-agnostic
    // machinery as video (nBands=1/bandBits=12/hammingMax=0: one
    // exact band IS the small quantized hash, so candidates are
    // equal-window pairs only); hash-set containment still scores the
    // outro-extended clip 1.0 against its class.
    QuerySpec("q196_audio_neardup", (s, d) => {
      import s.implicits._
      VideoDedup.nearDupGroups(
        AudioDedup.windowSignatures(audioDupTab(s, d)),
        bandBits = 12, nBands = 1, hammingMax = 0)
    },
      // equal-hash candidates (one exact band IS the small hash),
      // containment, recursive closure — the video chain over the
      // audio substrate
      audioNearDupSql),
    // INCREMENTAL video dedup — the q57/q59/q130 contract for the
    // newest modality: the first 80% of videos are the standing
    // corpus (signature classes + component labels over their
    // representatives); an arriving batch only re-signatures ITS
    // videos, pairs its UNSEEN signature classes against the standing
    // representatives (batch×all banding, never all×all), and folds
    // the delta through incrementalComponents. Must reproduce the
    // from-scratch grouping verbatim — q171's oracle applies
    // UNCHANGED (the invariant pattern). Append-only ids mean a
    // signature class's representative (its min id) never moves.
    QuerySpec("q189_video_incremental", (s, d) => {
      import s.implicits._
      val sigs = VideoDedup.frameSignatures(
          pngAviTab(s, d).as[Multimodal.MediaRecord])
        .localCheckpoint(true)
      val maxId = sigs.agg(max(col("media_id"))).head().getLong(0)
      VideoDedup.incrementalGroups(sigs, thresh = maxId * 4 / 5)
    },
      // the incremental fold must land at the from-scratch grouping —
      // the invariant oracle applies verbatim
      videoNearDupSql),
    // The cross-modality reuse made concrete: the SAME incremental
    // fold (signature classes, batch×all banding, delta CC) over the
    // AUDIO substrate — one line of modality-specific code (the
    // window-hash extractor), everything else shared. Invariant
    // oracle: q196's from-scratch grouping verbatim.
    QuerySpec("q197_audio_incremental", (s, d) => {
      import s.implicits._
      val sigs = AudioDedup.windowSignatures(audioDupTab(s, d))
        .localCheckpoint(true)
      val maxId = sigs.agg(max(col("media_id"))).head().getLong(0)
      VideoDedup.incrementalGroups(sigs, thresh = maxId * 4 / 5,
        bandBits = 12, nBands = 1, hammingMax = 0)
    },
      audioNearDupSql),
    // Keep-one MATERIALIZATION for video — the modality's q143-style
    // file artifact: the whole corpus lands in a bucketed media store,
    // the q171 verdict's non-keepers are physically deleted
    // (bucket-scoped dynamic overwrite, the sealed-shard repair
    // discipline — only buckets containing a deleted row are
    // rewritten), and the manifest is computed from the READ-BACK
    // files. The oracle rebuilds the verdict and the surviving
    // bucket/digest structure in SQL — a row the delete missed, or
    // one it wrongly removed, breaks the hash. Byte identity and
    // mtime-pinning of untouched buckets are spec-pinned
    // (MultimodalSpec), since parquet bytes are not SQL-derivable.
    QuerySpec("q200_video_keep_one_store", (s, d) => {
      import s.implicits._
      val media = pngAviTab(s, d)
      val groups = VideoDedup.nearDupGroups(
        VideoDedup.frameSignatures(media.as[Multimodal.MediaRecord]))
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_store_vid_" +
        math.abs(d.hashCode.toLong)
      MediaStore.writeAll(media.toDF(), "media_id", path, buckets = 8)
      MediaStore.applyKeepOne(s, path,
        groups.filter(!col("is_keeper")).select(col("media_id")), "media_id")
      MediaStore.manifest(s.read.parquet(path), "media_id")
    },
      // the store after the physical delete holds exactly the keepers:
      // the oracle re-derives the verdict and the per-bucket survivor
      // structure; computing the Spark side from read-back files is
      // what proves the delete landed (and spared the right rows)
      s"""SELECT CAST(media_id % 8 AS BIGINT) AS bucket,
         |  CAST(count(*) AS BIGINT) AS n_media,
         |  bit_xor(('0x' || substr(md5(CAST(media_id AS VARCHAR)), 1, 15))
         |    ::UBIGINT::BIGINT) AS ids_digest
         |FROM ($videoNearDupSql) g WHERE is_keeper GROUP BY 1""".stripMargin, writes = true),
    // The IMAGE act tier — q164's exact-dhash verdict driving the
    // same MediaStore machinery, completing the keep-one
    // materialization across all three modalities (image q227,
    // video q200, audio q201) with one shared store implementation.
    QuerySpec("q227_image_keep_one_store", (s, d) => {
      val media = pngTab(s, d).toDF()
      val hashed = dhashedMedia(s, d)
      val nonKeepers = hashed.join(
          hashed.groupBy(col("img_hash"))
            .agg(min(col("media_id")).as("keep_id")), Seq("img_hash"))
        .filter(col("media_id") =!= col("keep_id"))
        .select(col("media_id"))
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_store_img_" +
        math.abs(d.hashCode.toLong)
      MediaStore.writeAll(media, "media_id", path, buckets = 8)
      MediaStore.applyKeepOne(s, path, nonKeepers, "media_id")
      MediaStore.manifest(s.read.parquet(path), "media_id")
    },
      // surviving image store manifest — keepers of q164's verdict,
      // bucketed and digested exactly like the video/audio stores
      s"""SELECT CAST(media_id % 8 AS BIGINT) AS bucket,
         |  CAST(count(*) AS BIGINT) AS n_media,
         |  bit_xor(('0x' || substr(md5(CAST(media_id AS VARCHAR)), 1, 15))
         |    ::UBIGINT::BIGINT) AS ids_digest
         |FROM ($imageKeepOneSql) g WHERE is_keeper GROUP BY 1""".stripMargin, writes = true),
    // The same act tier over the AUDIO verdict — one call per
    // modality into the shared store machinery, mirroring how the
    // detect tier shares VideoDedup.nearDupGroups.
    QuerySpec("q201_audio_keep_one_store", (s, d) => {
      import s.implicits._
      val media = audioDupTab(s, d).toDF()
        .localCheckpoint(true) // fixture built per call; freeze once
      val groups = VideoDedup.nearDupGroups(
        AudioDedup.windowSignatures(media.as[Multimodal.MediaRecord]),
        bandBits = 12, nBands = 1, hammingMax = 0)
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_store_aud_" +
        math.abs(d.hashCode.toLong)
      MediaStore.writeAll(media, "media_id", path, buckets = 8)
      MediaStore.applyKeepOne(s, path,
        groups.filter(!col("is_keeper")).select(col("media_id")), "media_id")
      MediaStore.manifest(s.read.parquet(path), "media_id")
    },
      s"""SELECT CAST(media_id % 8 AS BIGINT) AS bucket,
         |  CAST(count(*) AS BIGINT) AS n_media,
         |  bit_xor(('0x' || substr(md5(CAST(media_id AS VARCHAR)), 1, 15))
         |    ::UBIGINT::BIGINT) AS ids_digest
         |FROM ($audioNearDupSql) g WHERE is_keeper GROUP BY 1""".stripMargin, writes = true),
    // The INCREMENTAL store lifecycle — standing-state dedup and the
    // physical store maintained together, the full act loop an ingest
    // pipeline runs per batch: bootstrap (store + dedupState + delete)
    // on the old 80%, then the batch APPENDS (new part files only),
    // FOLDS through the standing state (old side never re-paired /
    // re-CC'd), and the verdict's non-keepers are deleted with
    // bucket-scoped repair. A new video can bridge two standing
    // components, demoting an old KEEPER — passing state2's full
    // non-keeper set handles that: applyKeepOne flags only buckets
    // where a listed id is still physically present. Must equal the
    // from-scratch keep-one store — q200's oracle VERBATIM.
    QuerySpec("q205_media_store_incr", (s, d) => {
      import s.implicits._
      val media = pngAviTab(s, d)
      val sigs = VideoDedup.frameSignatures(
          media.as[Multimodal.MediaRecord])
        .localCheckpoint(true)
      val maxId = sigs.agg(max(col("media_id"))).head().getLong(0)
      val thresh = maxId * 4 / 5
      val oldSigs = sigs.filter(col("media_id") <= thresh)
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_store_vinc_" +
        math.abs(d.hashCode.toLong)
      MediaStore.writeAll(media.toDF().filter(col("media_id") <= thresh),
        "media_id", path, buckets = 8)
      val st = VideoDedup.dedupState(oldSigs).localCheckpoint(true)
      MediaStore.applyKeepOne(s, path, VideoDedup.groupsFromState(st)
        .filter(!col("is_keeper")).select(col("media_id")), "media_id")
      MediaStore.append(media.toDF().filter(col("media_id") > thresh),
        "media_id", path, buckets = 8)
      val (st2, _) = VideoDedup.foldBatch(st,
        VideoDedup.repSignatures(st, oldSigs),
        sigs.filter(col("media_id") > thresh))
      MediaStore.applyKeepOne(s, path, VideoDedup.groupsFromState(st2)
        .filter(!col("is_keeper")).select(col("media_id")), "media_id")
      MediaStore.manifest(s.read.parquet(path), "media_id")
    },
      // the incrementally-maintained store must land at the from-scratch
      // keep-one store — the invariant oracle applies verbatim
      s"""SELECT CAST(media_id % 8 AS BIGINT) AS bucket,
         |  CAST(count(*) AS BIGINT) AS n_media,
         |  bit_xor(('0x' || substr(md5(CAST(media_id AS VARCHAR)), 1, 15))
         |    ::UBIGINT::BIGINT) AS ids_digest
         |FROM ($videoNearDupSql) g WHERE is_keeper GROUP BY 1""".stripMargin, writes = true))

  /** Baseline JPEG via the JDK's ImageIO (java.desktop — present in
    * any full JDK, headless-safe), the same reference encoder the
    * decode specs anchor against. */
  private def jpegBytes(img: java.awt.image.BufferedImage): Array[Byte] = {
    val w = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
    val p = w.getDefaultWriteParam
    p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionQuality(0.9f)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    w.setOutput(ios)
    w.write(null, new javax.imageio.IIOImage(img, null, null), p)
    ios.close(); w.dispose()
    bos.toByteArray
  }

  private lazy val audioNearDupSql =
    """WITH RECURSIVE v AS (SELECT doc_id, CAST(doc_id % 5 AS BIGINT) AS c
        |       FROM documents),
        |f AS (SELECT doc_id, c, unnest(range(0, c % 3 + 3 +
        |        CASE WHEN doc_id % 41 = 0 THEN 1 ELSE 0 END)) AS k FROM v),
        |sg AS (SELECT doc_id, CAST(k AS BIGINT) AS frame_idx,
        |       CASE WHEN doc_id % 41 = 0 AND k = c % 3 + 3 THEN 99 ELSE k END
        |         AS seg, c FROM f),
        |h AS MATERIALIZED (SELECT doc_id, frame_idx,
        |  CAST(520 * ((c*7 + seg*11) % 8) AS BIGINT) AS fhash FROM sg),
        |vh AS MATERIALIZED (SELECT DISTINCT doc_id, fhash FROM h),
        |nh AS (SELECT doc_id, count(*)::BIGINT AS nh FROM vh GROUP BY doc_id),
        |nf AS (SELECT doc_id, count(*)::BIGINT AS n_frames FROM h GROUP BY doc_id),
        |cnd AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
        |              x.fhash AS ha, y.fhash AS hb
        |        FROM vh x JOIN vh y
        |          ON x.fhash = y.fhash AND x.doc_id < y.doc_id),
        |pp AS (SELECT a, b, count(DISTINCT ha)::BIGINT AS ma,
        |              count(DISTINCT hb)::BIGINT AS mb FROM cnd GROUP BY a, b),
        |pr AS MATERIALIZED (SELECT a, b FROM pp
        |       JOIN nh na ON pp.a = na.doc_id
        |       JOIN nh nb ON pp.b = nb.doc_id
        |       WHERE round(least(greatest(ma, mb), least(na.nh, nb.nh)) / least(na.nh, nb.nh), 4) >= 0.6),
        |edges AS (SELECT a, b FROM pr UNION SELECT b, a FROM pr),
        |reach(a, b) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |cc AS (SELECT a AS doc_id, least(a, min(b)) AS keep_id
        |       FROM reach GROUP BY a)
        |SELECT nf.doc_id AS media_id, nf.n_frames,
        |  coalesce(cc.keep_id, nf.doc_id) AS keep_id,
        |  nf.doc_id = coalesce(cc.keep_id, nf.doc_id) AS is_keeper
        |FROM nf LEFT JOIN cc ON nf.doc_id = cc.doc_id""".stripMargin

  private lazy val videoNearDupSql =
      """WITH RECURSIVE v AS (SELECT doc_id, CAST(doc_id % 6 AS BIGINT) AS c
        |       FROM documents),
        |fr AS (SELECT doc_id, c, unnest(range(0, c + 2 +
        |         CASE WHEN doc_id % 31 = 0 THEN 1 ELSE 0 END)) AS fi FROM v),
        |ff AS (SELECT doc_id, CAST(fi AS BIGINT) AS frame_idx,
        |       CASE WHEN doc_id % 31 = 0 AND fi = c + 2 THEN 99 ELSE fi END AS fc,
        |       c FROM fr),
        |bits AS (SELECT doc_id, frame_idx, fc, c, unnest(range(0, 48)) AS j FROM ff),
        |h AS MATERIALIZED (SELECT doc_id, frame_idx,
        |  CAST(sum(CASE WHEN (c*37 + fc*13 + j*11) % 241 >
        |                     (c*37 + fc*13 + (j+1)*11) % 241
        |           THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS fhash
        |  FROM bits GROUP BY doc_id, frame_idx),
        |vh AS MATERIALIZED (SELECT DISTINCT doc_id, fhash FROM h),
        |nh AS (SELECT doc_id, count(*)::BIGINT AS nh FROM vh GROUP BY doc_id),
        |nf AS (SELECT doc_id, count(*)::BIGINT AS n_frames FROM h GROUP BY doc_id),
        |bnd AS MATERIALIZED (SELECT doc_id, fhash, b.band,
        |         (fhash >> (b.band * 12)) & 4095 AS bv
        |       FROM vh CROSS JOIN (SELECT unnest(range(0, 4)) AS band) b),
        |cnd AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
        |              x.fhash AS ha, y.fhash AS hb
        |        FROM bnd x JOIN bnd y
        |          ON x.band = y.band AND x.bv = y.bv AND x.doc_id < y.doc_id),
        |mt AS (SELECT a, b, ha, hb FROM cnd WHERE bit_count(xor(ha, hb)) <= 3),
        |pp AS (SELECT a, b, count(DISTINCT ha)::BIGINT AS ma,
        |              count(DISTINCT hb)::BIGINT AS mb FROM mt GROUP BY a, b),
        |pr AS MATERIALIZED (SELECT a, b FROM pp
        |       JOIN nh na ON pp.a = na.doc_id
        |       JOIN nh nb ON pp.b = nb.doc_id
        |       WHERE round(least(greatest(ma, mb), least(na.nh, nb.nh)) / least(na.nh, nb.nh), 4) >= 0.6),
        |edges AS (SELECT a, b FROM pr UNION SELECT b, a FROM pr),
        |reach(a, b) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |cc AS (SELECT a AS doc_id, least(a, min(b)) AS keep_id
        |       FROM reach GROUP BY a)
        |SELECT nf.doc_id AS media_id, nf.n_frames,
        |  coalesce(cc.keep_id, nf.doc_id) AS keep_id,
        |  nf.doc_id = coalesce(cc.keep_id, nf.doc_id) AS is_keeper
        |FROM nf LEFT JOIN cc ON nf.doc_id = cc.doc_id""".stripMargin
}
