package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.gx.GraphXTraversal
import graft.util.Staged

/**
 * Multimodal-column plumbing for training-data pipelines: media
 * (image/audio/video) travels as an opaque `binary` column plus a typed
 * metadata struct; per-item decode/feature-extract runs as a partition-
 * mapped stage over grouped batches (the Scala analog of `mapInPandas`:
 * one iterator pass per partition, constant memory, no driver collect).
 *
 * The pixel DECODERS are deliberately deterministic stubs — no media
 * codecs ship in this environment — but everything Spark-side is real
 * and tested: schema contract, batch iteration, partitioning behavior,
 * and the derived-column shapes a real decoder would produce. Swapping
 * in a real JNI/FFmpeg/libvips decoder changes only [[stubDecode]].
 * [[imageMeta]] and [[audioMeta]] are NOT stubs: container format,
 * pixel dimensions (PNG/GIF/BMP/JPEG) and sample-rate/channels/bit-
 * depth/duration (RIFF/WAV) are parsed from the actual header bytes,
 * codec-free.
 */
object MultimodalOps {

  /** Canonical media-row schema: content + typed metadata. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),   // image|audio|video
    StructField("content", BinaryType, nullable = true), // opaque payload
    StructField("meta", StructType(Seq(
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("duration_ms", LongType, nullable = true),
      StructField("mime", StringType, nullable = true))), nullable = true)))

  /** Deterministic fake decode: a real implementation would inflate the
    * codec bytes; the stub derives stable pseudo-features from the bytes
    * so tests can assert exact values. */
  private[pipeline] def stubDecode(content: Array[Byte]): Array[Float] = {
    if (content == null) Array.empty
    else {
      var h = 1125899906842597L
      content.foreach(b => h = h * 31 + b)
      Array.tabulate(8)(i => (((h >>> (i * 8)) & 0xFF).toInt - 128) / 128.0f)
    }
  }

  /** One decoded-feature row per media item. */
  final case class MediaFeat(media_id: Long, kind: String,
                             feat: Array[Float], n_bytes: Long)

  /** Per-item media features via a single partition-mapped pass —
    * binary in, fixed-width feature vector + size out. The decoder runs
    * once per row inside the partition iterator (constant memory per
    * task; no collect). Schema: (media_id, kind, feat: array<float>,
    * n_bytes). */
  def extractFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("kind"), col("content"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, kind, content) =>
          MediaFeat(id, kind, stubDecode(content),
            if (content == null) 0L else content.length.toLong)
        }
      }
      .toDF()
  }

  /** Extracted container metadata: format is the sniffed container,
    * width/height None when the payload is not a recognized image. */
  final case class ImageMeta(media_id: Long, format: String,
                             width: Option[Int], height: Option[Int])

  /** REAL (non-stub) image metadata extraction: container format and
    * pixel dimensions parsed straight from the header bytes — PNG IHDR,
    * GIF logical-screen descriptor, BMP info header, and a JPEG marker
    * walk to the SOF segment. No codec library involved: dimensions live
    * in the first bytes of every mainstream container, so the one thing
    * a 100 TB curation pass usually needs from images (size/aspect
    * filtering before any expensive decode) runs as the same constant-
    * memory partition-mapped stage as [[extractFeatures]], reading at
    * most a few hundred bytes per row. */
  def imageMeta(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, c) =>
        val (f, w, h) = sniffImage(c)
        ImageMeta(id, f, w, h)
      })
      .toDF()
  }

  /** Header sniff: (format, width, height). Package-visible for tests. */
  private[pipeline] def sniffImage(c: Array[Byte]): (String, Option[Int], Option[Int]) = {
    def u8(i: Int) = c(i) & 0xFF
    def be32(i: Int) = (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    def be16(i: Int) = (u8(i) << 8) | u8(i + 1)
    def le32(i: Int) = (u8(i + 3) << 24) | (u8(i + 2) << 16) | (u8(i + 1) << 8) | u8(i)
    def le16(i: Int) = (u8(i + 1) << 8) | u8(i)
    if (c == null || c.length < 2) ("unknown", None, None)
    // PNG: 8-byte signature, then the IHDR chunk is REQUIRED first —
    // width/height are big-endian at fixed offsets 16/20
    else if (c.length >= 24 && u8(0) == 0x89 && u8(1) == 'P' && u8(2) == 'N' && u8(3) == 'G')
      ("png", Some(be32(16)), Some(be32(20)))
    // GIF87a/89a: logical screen width/height little-endian at 6/8
    else if (c.length >= 10 && u8(0) == 'G' && u8(1) == 'I' && u8(2) == 'F')
      ("gif", Some(le16(6)), Some(le16(8)))
    // BMP: BITMAPINFOHEADER width/height little-endian at 18/22
    else if (c.length >= 26 && u8(0) == 'B' && u8(1) == 'M')
      ("bmp", Some(le32(18)), Some(math.abs(le32(22))))
    // JPEG: walk marker segments to the first SOFn (C0–CF minus C4/C8/CC);
    // height/width are big-endian at +5/+7 inside the SOF payload
    else if (u8(0) == 0xFF && u8(1) == 0xD8) {
      var i = 2
      var res: (Option[Int], Option[Int]) = (None, None)
      var done = false
      while (!done && res._1.isEmpty && i + 3 < c.length && u8(i) == 0xFF) {
        // 0xFF bytes may pad between segments; skip fill before the marker
        while (i + 3 < c.length && u8(i + 1) == 0xFF) i += 1
        val marker = u8(i + 1)
        // SOS starts entropy-coded data and EOI ends the file — past either
        // there are no more parseable segments, so stop rather than misread
        // compressed bytes as markers
        if (marker == 0xDA || marker == 0xD9) done = true
        else if (marker == 0xD8 || (marker >= 0xD0 && marker <= 0xD7) || marker == 0x01) i += 2
        else {
          val len = be16(i + 2)
          if (len < 2) return ("jpeg", None, None) // corrupt length
          if (marker >= 0xC0 && marker <= 0xCF &&
              marker != 0xC4 && marker != 0xC8 && marker != 0xCC) {
            if (i + 8 < c.length) res = (Some(be16(i + 7)), Some(be16(i + 5)))
          }
          i += 2 + len
        }
      }
      ("jpeg", res._1, res._2)
    }
    else ("unknown", None, None)
  }

  /** Extracted audio container metadata (None fields when the payload
    * is not recognized or the relevant chunk is missing). */
  final case class AudioMeta(media_id: Long, format: String,
                             channels: Option[Int], sample_rate: Option[Int],
                             bits_per_sample: Option[Int], duration_ms: Option[Long])

  /** REAL (non-stub) audio metadata: RIFF/WAV chunk walk, codec-free —
    * sample rate, channels, and bit depth come from the `fmt ` chunk and
    * duration from `data`-chunk-bytes / byte-rate, all within the first
    * few hundred header bytes. Same constant-memory partition-mapped
    * stage as [[imageMeta]]: the audio twin of size/aspect filtering is
    * duration/sample-rate filtering before any expensive decode. */
  def audioMeta(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, c) =>
        val (f, ch, sr, bits, dur) = sniffAudio(c)
        AudioMeta(id, f, ch, sr, bits, dur)
      })
      .toDF()
  }

  /** RIFF/WAVE header walk. Package-visible for tests. */
  private[pipeline] def sniffAudio(c: Array[Byte])
      : (String, Option[Int], Option[Int], Option[Int], Option[Long]) = {
    def u8(i: Int) = c(i) & 0xFF
    def le16(i: Int) = (u8(i + 1) << 8) | u8(i)
    def le32(i: Int): Long =
      ((u8(i + 3).toLong << 24) | (u8(i + 2) << 16) | (u8(i + 1) << 8) | u8(i)) & 0xFFFFFFFFL
    def tag(i: Int) = new String(c, i, 4, java.nio.charset.StandardCharsets.US_ASCII)
    if (c == null || c.length < 12 || tag(0) != "RIFF" || tag(8) != "WAVE")
      return ("unknown", None, None, None, None)
    var i = 12
    var channels, sampleRate, bits = Option.empty[Int]
    var byteRate = 0L
    var dataBytes = Option.empty[Long]
    // chunks are (id, size-LE, payload) with odd sizes padded to even
    while (i + 8 <= c.length) {
      val id = tag(i); val sz = le32(i + 4)
      if (id == "fmt " && i + 8 + 16 <= c.length) {
        channels = Some(le16(i + 10))
        sampleRate = Some(le32(i + 12).toInt)
        byteRate = le32(i + 16)
        bits = Some(le16(i + 22))
      } else if (id == "data") dataBytes = Some(sz)
      // corrupt/huge sizes must terminate the walk, not overflow the index
      val next = i.toLong + 8L + sz + (sz & 1L)
      i = if (next > c.length) c.length else next.toInt
    }
    val dur = dataBytes.filter(_ => byteRate > 0)
      .map(db => math.round(db * 1000.0 / byteRate))
    ("wav", channels, sampleRate, bits, dur)
  }

  /** Extracted video container metadata (None fields when the payload is
    * not recognized or the relevant box is missing). */
  final case class VideoMeta(media_id: Long, format: String,
                             duration_ms: Option[Long],
                             width: Option[Int], height: Option[Int])

  /** REAL (non-stub) video metadata: ISO-BMFF (MP4/MOV) box walk,
    * codec-free — brand from `ftyp`, duration from `moov/mvhd`
    * (duration/timescale), and presentation width/height from the
    * largest `trak/tkhd` (16.16 fixed-point). Box structure is pure
    * length-prefixed framing, so no codec is touched; with `moov` at the
    * front (the faststart layout every streaming pipeline writes) this
    * reads only header bytes. Completes the media triple: images
    * ([[imageMeta]]), audio ([[audioMeta]]), video — all three filter
    * paths (size/aspect, sample-rate/duration, resolution/duration) run
    * before any expensive decode. */
  def videoMeta(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, c) =>
        val (f, dur, w, h) = sniffVideo(c)
        VideoMeta(id, f, dur, w, h)
      })
      .toDF()
  }

  /** ISO-BMFF box walk: (format, duration_ms, width, height).
    * Package-visible for tests. */
  private[pipeline] def sniffVideo(c: Array[Byte])
      : (String, Option[Long], Option[Int], Option[Int]) = {
    def u8(i: Int) = c(i) & 0xFF
    def be32(i: Int): Long =
      ((u8(i).toLong << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)) & 0xFFFFFFFFL
    def be64(i: Int): Long = (be32(i) << 32) | be32(i + 4)
    def tag(i: Int) = new String(c, i, 4, java.nio.charset.StandardCharsets.US_ASCII)
    if (c == null || c.length < 12 || tag(4) != "ftyp")
      return ("unknown", None, None, None)
    val brand = tag(8).trim
    var durMs = Option.empty[Long]
    var width, height = Option.empty[Int]
    // walk boxes in [from, to); recurse only into the two containers we
    // need (moov, trak) — depth is bounded by the format, not the data
    def walk(from: Int, to: Int, depth: Int): Unit = {
      var i = from
      while (i + 8 <= to) {
        val sz0 = be32(i); val typ = tag(i + 4)
        // size==1 → 64-bit largesize follows; size==0 → box runs to EOF
        val (hdr, sz) =
          if (sz0 == 1L && i + 16 <= to) (16, be64(i + 8))
          else if (sz0 == 0L) (8, (to - i).toLong)
          else (8, sz0)
        if (sz < hdr || i + sz > to) return // corrupt size: stop the walk
        val end = (i + sz).toInt
        typ match {
          case "moov" | "trak" if depth < 2 => walk(i + hdr, end, depth + 1)
          case "mvhd" if i + hdr + 4 <= end =>
            val v = u8(i + hdr)
            // v0: ctime4 mtime4 timescale4 duration4; v1: 8/8/4/8
            val (tsOff, durOff, dur64) =
              if (v == 1) (i + hdr + 20, i + hdr + 24, true)
              else (i + hdr + 12, i + hdr + 16, false)
            // bound by the mvhd box's OWN end, not the parent range — a
            // truncated mvhd must yield None, not sibling-box bytes
            if ((dur64 && durOff + 8 <= end) || (!dur64 && durOff + 4 <= end)) {
              val timescale = be32(tsOff)
              val dur = if (dur64) be64(durOff) else be32(durOff)
              if (timescale > 0) durMs = Some(math.round(dur * 1000.0 / timescale))
            }
          case "tkhd" if i + hdr + 4 <= end =>
            // width/height are the LAST 8 bytes of the box, 16.16 fixed
            // (version-independent — read from the end, no version branch)
            if (end - 8 >= i + hdr + 4) {
              val w = (be32(end - 8) >> 16).toInt
              val h = (be32(end - 4) >> 16).toInt
              // audio/hint tracks carry 0×0 — keep the largest video track
              if (w > 0 && h > 0 &&
                  w.toLong * h > width.getOrElse(0).toLong * height.getOrElse(0)) {
                width = Some(w); height = Some(h)
              }
            }
          case _ => ()
        }
        i = end
      }
    }
    walk(0, c.length, 0)
    (if (brand.nonEmpty) s"mp4/$brand" else "mp4", durMs, width, height)
  }

  /** Resize stub for image rows: real work happens per-partition against
    * the binary payload; here the metadata transform (the Spark-visible
    * contract) is exact and the payload passes through. */
  def resizeImages(media: DataFrame, maxSide: Int): DataFrame = {
    val w = col("meta.width"); val h = col("meta.height")
    val scale = when(greatest(w, h) > maxSide,
      lit(maxSide).cast("double") / greatest(w, h)).otherwise(lit(1d))
    media.withColumn("meta", struct(
      ceil(w * scale).cast("int").as("width"),
      ceil(h * scale).cast("int").as("height"),
      col("meta.duration_ms").as("duration_ms"),
      col("meta.mime").as("mime")))
  }

  /** Frame sampling for video rows: one output row per sampled frame at
    * `everyMs` intervals — pure relational explode on duration metadata;
    * the per-frame decode would hang off the same partition-mapped stage
    * as [[extractFeatures]]. */
  def sampleFrames(media: DataFrame, everyMs: Long): DataFrame =
    media.where(col("kind") === "video" && col("meta.duration_ms") > 0)
      .select(col("media_id"), col("content"),
        explode(sequence(lit(0L), col("meta.duration_ms") - 1, lit(everyMs)))
          .as("frame_ts_ms"))

  /**
   * Exact multimodal dedup — the universal FIRST pass of any multimodal
   * curation pipeline (identical payload bytes recur across sources and
   * URLs long before any perceptual notion of similarity matters): key
   * every item by a content digest, representative = min media_id per
   * digest, keep = (media_id == rep).
   *
   * Scale shape: the digest is computed in the scan projection and the
   * payload column is DROPPED before any exchange — only (media_id,
   * kind, 16-byte digest) ever shuffles. One hash aggregation keyed by
   * digest with map-side partials (group state is (min, count) however
   * many copies exist), then the per-item verdict joins the slim keyed
   * relation back on digest — both sides hash-partition on the same
   * key, so the join reuses the aggregation's partitioning. Returns
   * (media_id, kind, rep, n_copies, keep).
   */
  def dedupExactMedia(media: DataFrame): DataFrame = {
    val keyed = media.select(col("media_id").cast("long"), col("kind"),
      md5(col("content")).as("digest"))
    val groups = keyed.groupBy(col("digest"))
      .agg(min(col("media_id")).as("rep"), count(lit(1)).as("n_copies"))
    keyed.join(groups, "digest")
      .select(col("media_id"), col("kind"), col("rep").cast("long"),
        col("n_copies").cast("long"),
        (col("media_id") === col("rep")).as("keep"))
  }

  /** One aligned-chunk fingerprint row: `digest` is the whole-payload
    * MD5 prefix (the exact-equality key), `ch` the chunk's. */
  final case class ChunkFp(media_id: Long, digest: Long, pos: Int, ch: Long)

  /** Aligned chunk fingerprints: split each payload into fixed
    * `chunkBytes` chunks at fixed offsets and hash each (first 8 bytes
    * of the chunk's MD5, position mixed in by the caller's join key),
    * plus the whole-payload digest from the same pass. The payload is
    * consumed inside the partition iterator and DROPPED before any
    * exchange — only (media_id, digest, pos, 8-byte hash) rows ever
    * shuffle, the same discipline as [[dedupExactMedia]]. */
  def chunkFingerprints(media: DataFrame, chunkBytes: Int = 256): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, c) =>
          if (c == null || c.isEmpty) Iterator.empty
          else {
            md.reset()
            val dig = java.nio.ByteBuffer.wrap(md.digest(c)).getLong
            c.grouped(chunkBytes).zipWithIndex.map { case (chunk, i) =>
              md.reset()
              ChunkFp(id, dig, i,
                java.nio.ByteBuffer.wrap(md.digest(chunk)).getLong)
            }
          }
        }
      }
      .toDF()
  }

  /**
   * Byte-level media NEAR-dup — the tier above [[dedupExactMedia]]:
   * truncated downloads and re-muxed copies (same stream bytes, extra
   * trailer) share long byte runs with their source but no digest.
   * Perceptual (decoded-pixel) similarity needs a codec and belongs in
   * the [[extractFeatures]] stage; byte-run sharing is the codec-free
   * tier every multimodal pipeline runs first.
   *
   * Candidates: an equi-join on (pos, chunk-hash) over ALIGNED
   * `chunkBytes` fingerprints — two items meet ONLY if some aligned
   * chunk is byte-identical, so work is proportional to bucket sizes
   * (a bucket = items sharing one chunk), never |media|². High-entropy
   * compressed payloads make cross-item chunk collisions vanishingly
   * rare, so buckets ≈ true copy groups. Aligned chunking catches
   * truncation and append/re-mux (offsets preserved); byte INSERTIONS
   * would shift offsets — the next tier for that is content-defined
   * chunk boundaries (rolling-hash cuts), same join shape, different
   * splitter.
   *
   * EXACT duplicates collapse first: the chunk join runs over ONE
   * digest representative (min media_id) per distinct payload, never
   * over the raw rows — byte-identical copy groups are the common case
   * (a popular WAV repeated 700× would otherwise contribute C(700,2)
   * pairs in every shared chunk bucket, the r13 sf5 lesson), and their
   * membership is already decided by equality. The representative's
   * cluster verdict then rejoins every member through its digest.
   * All of this moves thin fingerprint rows only; payload bytes never
   * enter an exchange.
   *
   * Clusters: near-dup is transitive in curation policy (keep ONE of a
   * truncation chain), so candidate pairs feed the relational
   * connected components ([[graft.gx.GraphXTraversal.components]]) —
   * the pair graph is orders of magnitude
   * smaller than the corpus (the [[graft.pipeline.TextOps.dedupClusters]]
   * shape), the component id IS the representative (min media_id:
   * each digest rep is its group's min, so the component min over reps
   * is the true cluster min). Returns (media_id, kind, rep, n_members,
   * keep) for EVERY item; singletons (and null/empty payloads) keep
   * themselves.
   */
  def nearDupMedia(media: DataFrame, chunkBytes: Int = 256): DataFrame =
    clusterByChunks(media, chunkFingerprints(media, chunkBytes),
      Seq("pos", "ch"))

  /** Gear table for content-defined chunking: 256 pseudorandom longs
    * from a fixed LCG seed — pure constants, so cut points are a pure
    * function of the byte stream on every engine and run. */
  private val Gear: Array[Long] = {
    var h = 0x9E3779B97F4A7C15L
    Array.fill(256) {
      h = h * 6364136223846793005L + 1442695040888963407L
      h
    }
  }

  /** Content-defined chunk fingerprints (gear rolling hash, FastCDC
    * family): a cut falls wherever the rolling hash of the trailing
    * bytes masks to zero (`avgBits` → expected chunk ≈ 2^avgBits
    * bytes), so chunk BOUNDARIES move with the content, not the
    * offsets. After an insertion or deletion, the hash state
    * re-synchronizes within one 64-byte window and every later cut —
    * hence every later chunk — matches the original again. This is the
    * insertion-robust tier [[chunkFingerprints]]' aligned offsets can't
    * give (an early insert shifts every aligned block): rsync/casync/
    * dedup-store chunking, applied to media payloads. No min/max clamp:
    * clamps couple a cut to its predecessor and break the
    * resynchronization guarantee. Tiny chunks DO get cut — but are not
    * EMITTED (r13 review catch): a 1–2-byte chunk's hash ranges over
    * only 256–65k values, so corpus-wide chunk-hash collisions would
    * merge unrelated media (measured: 765 of 1,500 random payloads
    * falsely clustered before the floor). Chunks shorter than
    * `minBytes` are dropped from BOTH sides symmetrically — they never
    * serve as candidate keys, and the post-resync full-size chunks
    * still carry the match. (At 100 TB, widen the 64-bit hash to the
    * full 128-bit MD5 — same plan, 16-byte keys.)
    * Emits (media_id, digest, ch, len) — no position: ordinals shift
    * under insertion by design. `len` is the chunk's byte length
    * (every emitted chunk row has len ≥ minBytes — the floor audit
    * column). One extra row per non-empty payload carries the
    * whole-payload digest as its own key (ch = digest, len = −1),
    * UNCONDITIONALLY (r13 advice): a payload whose chunks are ALL
    * shorter than minBytes would otherwise emit nothing and even its
    * byte-identical copies would escape the digest collapse. The key
    * coincides with the single-chunk hash of an uncut payload (both
    * are MD5(whole)), so it adds no new collision surface. */
  def cdcFingerprints(media: DataFrame, avgBits: Int = 6,
                      minBytes: Int = 24): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val mask = (1L << avgBits) - 1
    media.select(col("media_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, c) =>
          if (c == null || c.isEmpty) Iterator.empty
          else {
            md.reset()
            val dig = java.nio.ByteBuffer.wrap(md.digest(c)).getLong
            val cuts = scala.collection.mutable.ArrayBuffer(0)
            var h = 0L
            var i = 0
            // 8-byte stride (r15, VERDICT r14 item 7): the rolling-hash
            // recurrence is inherently sequential and the mask test must
            // run per byte, but unrolling 8 steps per trip amortizes the
            // loop-control branch — the remaining per-byte term of
            // cdc_invariants at sf5 after the r14 single-pass fix.
            // Bit-identical by construction: same recurrence, same test,
            // same cut offsets, only the trip count changes.
            val n = c.length
            val lim = n - 7
            while (i < lim) {
              h = (h << 1) + Gear(c(i) & 0xFF); if ((h & mask) == 0L) cuts += i + 1
              h = (h << 1) + Gear(c(i + 1) & 0xFF); if ((h & mask) == 0L) cuts += i + 2
              h = (h << 1) + Gear(c(i + 2) & 0xFF); if ((h & mask) == 0L) cuts += i + 3
              h = (h << 1) + Gear(c(i + 3) & 0xFF); if ((h & mask) == 0L) cuts += i + 4
              h = (h << 1) + Gear(c(i + 4) & 0xFF); if ((h & mask) == 0L) cuts += i + 5
              h = (h << 1) + Gear(c(i + 5) & 0xFF); if ((h & mask) == 0L) cuts += i + 6
              h = (h << 1) + Gear(c(i + 6) & 0xFF); if ((h & mask) == 0L) cuts += i + 7
              h = (h << 1) + Gear(c(i + 7) & 0xFF); if ((h & mask) == 0L) cuts += i + 8
              i += 8
            }
            while (i < n) {
              h = (h << 1) + Gear(c(i) & 0xFF)
              if ((h & mask) == 0L) cuts += i + 1
              i += 1
            }
            if (cuts.last != c.length) cuts += c.length
            Iterator.single((id, dig, dig, -1)) ++
              cuts.iterator.zip(cuts.iterator.drop(1))
                .filter { case (s, e) => e - s >= minBytes }
                .map { case (s, e) =>
                  md.reset()
                  md.update(c, s, e - s)
                  (id, dig, java.nio.ByteBuffer.wrap(md.digest()).getLong, e - s)
                }
          }
        }
      }
      .toDF("media_id", "digest", "ch", "len")
  }

  /** Insertion-robust media near-dup: [[nearDupMedia]]'s digest-collapse
    * + CC machinery over [[cdcFingerprints]], candidates keyed by chunk
    * hash alone (content-defined boundaries make positions meaningless
    * and unnecessary). Catches edits aligned chunking structurally
    * misses — bytes inserted/removed mid-stream (metadata retags,
    * spliced segments) — at the cost of hashing every byte through the
    * rolling gear. Same output contract: (media_id, kind, rep,
    * n_members, keep). */
  def nearDupMediaCdc(media: DataFrame, avgBits: Int = 6): DataFrame =
    clusterByChunks(media, cdcFingerprints(media, avgBits), Seq("ch"))

  /** [[nearDupMediaCdc]] over PRECOMPUTED fingerprints — callers that
    * also probe the fingerprint relation (cdcInvariants) share one gear
    * scan instead of hashing every payload byte twice (r14). */
  private[pipeline] def nearDupMediaCdcFromFps(media: DataFrame,
                                               fps: DataFrame): DataFrame =
    clusterByChunks(media, fps, Seq("ch"))

  // ---- PERCEPTUAL near-dup tier: decoded-content features for the
  //      formats this container can decode codec-free (r13 verdict
  //      item 3) — uncompressed 24-bit BMP pixels, 16-bit WAV PCM,
  //      and (r14 session 2) palette GIF via a from-scratch LZW
  //      decoder: LZW is pure bit-twiddling, no codec library needed.
  //      Truly codec-bound formats (PNG deflate / JPEG DCT / MP4)
  //      keep riding the byte tiers; swapping a real decoder in
  //      changes only the parsers below, never the plan. ----

  /** Shared 8×8 aHash fold over any decoded luma grid: per-cell luma
    * sums vs the global mean as exact integer cross-products
    * (cell_sum·total_px > total_sum·cell_px — unequal cell sizes stay
    * exact, and a uniform per-pixel shift moves every cell and the
    * mean identically, so the hash is brightness-shift-invariant by
    * construction). `luma(x, y)` is called once per pixel in row-major
    * order. */
  private def aHashFold(w: Int, h: Int, luma: (Int, Int) => Int): Long = {
    val cellSum = new Array[Long](64)
    val cellPx = new Array[Long](64)
    var y = 0
    while (y < h) {
      val cy = (y * 8 / h) * 8
      var x = 0
      while (x < w) {
        val cell = cy + x * 8 / w
        cellSum(cell) += luma(x, y)
        cellPx(cell) += 1
        x += 1
      }
      y += 1
    }
    var total = 0L; var totalPx = 0L
    var k = 0
    while (k < 64) { total += cellSum(k); totalPx += cellPx(k); k += 1 }
    var hash = 0L
    k = 0
    while (k < 64) {
      if (cellSum(k) * totalPx > total * cellPx(k)) hash |= (1L << k)
      k += 1
    }
    hash
  }

  /** Average-hash over the decoded pixel grid: per-pixel luma sums
    * (b+g+r — no division, so a uniform ±k-per-channel brightness
    * shift moves every cell and the mean by EXACTLY the same amount)
    * folded into an 8×8 cell grid; bit k = cell_k's mean luma > image
    * mean luma, compared as exact integer cross-products
    * (cell_sum·total_px > total_sum·cell_px) so unequal cell sizes
    * stay exact. 24-bit uncompressed BMP only (bottom-up and top-down
    * row orders both handled); anything else → None. */
  private[graft] def bmpAHash(c: Array[Byte]): Option[Long] = {
    def u8(i: Int) = c(i) & 0xFF
    def le16(i: Int) = (u8(i + 1) << 8) | u8(i)
    def le32(i: Int) = (u8(i + 3) << 24) | (u8(i + 2) << 16) | (u8(i + 1) << 8) | u8(i)
    if (c == null || c.length < 54 || c(0) != 'B' || c(1) != 'M') return None
    val off = le32(10)
    val w = le32(18)
    val hRaw = le32(22)
    val h = math.abs(hRaw)
    if (le16(28) != 24 || w <= 0 || h == 0) return None
    val stride = ((w * 3 + 3) / 4) * 4
    if (off < 54 || off.toLong + stride.toLong * h > c.length) return None
    val cellSum = new Array[Long](64)
    val cellPx = new Array[Long](64)
    var r = 0
    while (r < h) {
      val y = if (hRaw > 0) h - 1 - r else r // positive height = bottom-up rows
      val cy = (y * 8 / h) * 8
      val rowOff = off + r * stride
      var x = 0
      while (x < w) {
        val o = rowOff + x * 3
        val luma = u8(o) + u8(o + 1) + u8(o + 2)
        val cell = cy + x * 8 / w
        cellSum(cell) += luma
        cellPx(cell) += 1
        x += 1
      }
      r += 1
    }
    var total = 0L; var totalPx = 0L
    var k = 0
    while (k < 64) { total += cellSum(k); totalPx += cellPx(k); k += 1 }
    var hash = 0L
    k = 0
    while (k < 64) {
      if (cellSum(k) * totalPx > total * cellPx(k)) hash |= (1L << k)
      k += 1
    }
    Some(hash)
  }

  /** Normalized energy envelope over the decoded PCM: 16 equal sample
    * windows, per-window Σ|sample|, emitted as ⌊w_j·1024∕total⌋ — a
    * GAIN-INVARIANT shape signature (uniform scaling multiplies every
    * window sum and the total alike, so the exact integer ratios are
    * unchanged whenever the scale is exact, e.g. an even-sample
    * half-volume copy). 16-bit PCM RIFF/WAV only; walks the chunk list
    * to the `data` chunk like [[sniffAudio]]. None when not decodable,
    * `env:silent` when all-zero. */
  private[graft] def wavEnvelope(c: Array[Byte]): Option[String] = {
    def u8(i: Int) = c(i) & 0xFF
    def le16(i: Int) = (u8(i + 1) << 8) | u8(i)
    def le32(i: Int) = (u8(i + 3) << 24) | (u8(i + 2) << 16) | (u8(i + 1) << 8) | u8(i)
    if (c == null || c.length < 44) return None
    if (c(0) != 'R' || c(1) != 'I' || c(2) != 'F' || c(3) != 'F' ||
        c(8) != 'W' || c(9) != 'A' || c(10) != 'V' || c(11) != 'E') return None
    var i = 12
    var bits = -1
    var dataOff = -1
    var dataLen = -1
    while (i + 8 <= c.length && (bits < 0 || dataOff < 0)) {
      val id = new String(c, i, 4, java.nio.charset.StandardCharsets.US_ASCII)
      val sz = le32(i + 4)
      if (id == "fmt " && i + 24 <= c.length) bits = le16(i + 22)
      else if (id == "data") { dataOff = i + 8; dataLen = sz }
      i += 8 + sz + (sz & 1) // chunks are word-aligned
    }
    if (bits != 16 || dataOff < 0) return None
    val avail = math.min(dataLen.toLong, (c.length - dataOff).toLong).toInt
    val n = avail / 2
    if (n <= 0) return None
    val sums = new Array[Long](16)
    var s = 0
    while (s < n) {
      val o = dataOff + s * 2
      val v = ((c(o + 1) << 8) | (c(o) & 0xFF)).toShort.toInt
      sums((s.toLong * 16 / n).toInt) += math.abs(v)
      s += 1
    }
    val total = sums.sum
    if (total == 0L) Some("env:silent")
    else Some("env:" + sums.map(v => v * 1024 / total).mkString(","))
  }

  /** Average-hash over a DECODED palette GIF: full GIF87a/89a walk
    * (logical screen descriptor, global color table, extension blocks
    * skipped by their sub-block framing, image descriptor with
    * optional local color table) and a from-scratch LZW decode —
    * variable code width 3..12 bits LSB-first, clear/EOI codes, KwKwK
    * case, width growth at dictionary fill — then the same 8×8 luma
    * fold as [[bmpAHash]] over palette(index) r+g+b sums. A
    * palette-permuted copy (indices remapped, table reordered) decodes
    * to the SAME luma grid, and a uniform palette brightness shift is
    * absorbed by the cross-product compare — so both perceptual
    * variants byte-level tiers cannot see collapse here. Interlaced or
    * truncated streams → None (they stay in the byte tiers). */
  private[graft] def gifAHash(c: Array[Byte]): Option[Long] = {
    def u8(i: Int) = c(i) & 0xFF
    def le16(i: Int) = (u8(i + 1) << 8) | u8(i)
    if (c == null || c.length < 14 || c(0) != 'G' || c(1) != 'I' || c(2) != 'F') return None
    val packed = u8(10)
    var pos = 13
    var palette: Array[Byte] = null
    if ((packed & 0x80) != 0) {
      val n = 1 << ((packed & 7) + 1)
      if (pos + 3 * n > c.length) return None
      palette = java.util.Arrays.copyOfRange(c, pos, pos + 3 * n)
      pos += 3 * n
    }
    // walk blocks to the first image descriptor
    while (pos < c.length && u8(pos) != 0x2C) {
      u8(pos) match {
        case 0x21 => // extension: label byte + length-framed sub-blocks
          pos += 2
          while (pos < c.length && u8(pos) != 0) pos += 1 + u8(pos)
          pos += 1
        case 0x3B => return None // trailer before any image
        case _ => return None
      }
    }
    if (pos + 10 > c.length) return None
    val w = le16(pos + 5)
    val h = le16(pos + 7)
    val ipacked = u8(pos + 9)
    if (w <= 0 || h <= 0 || (ipacked & 0x40) != 0) return None // interlace unsupported
    pos += 10
    if ((ipacked & 0x80) != 0) {
      val n = 1 << ((ipacked & 7) + 1)
      if (pos + 3 * n > c.length) return None
      palette = java.util.Arrays.copyOfRange(c, pos, pos + 3 * n)
      pos += 3 * n
    }
    if (palette == null || pos >= c.length) return None
    val nColors = palette.length / 3
    val mcs = u8(pos); pos += 1
    if (mcs < 2 || mcs > 8) return None
    // concatenate the LZW sub-blocks
    val data = new java.io.ByteArrayOutputStream()
    while (pos < c.length && u8(pos) != 0) {
      val len = u8(pos)
      if (pos + 1 + len > c.length) return None
      data.write(c, pos + 1, len)
      pos += 1 + len
    }
    val bytes = data.toByteArray
    // LZW decode (GIF variant): codes LSB-first, dict entries as
    // (prefix code, suffix byte), clear = 1<<mcs, EOI = clear+1
    val clear = 1 << mcs
    val eoi = clear + 1
    val prefix = new Array[Int](4096)
    val suffix = new Array[Int](4096)
    val out = new Array[Byte](w * h)
    var outN = 0
    var dictN = eoi + 1
    var width = mcs + 1
    var prev = -1
    var acc = 0L; var accBits = 0; var bi = 0
    def expand(code: Int): Int = { // first byte of the expansion, emits to out
      var stack = List.empty[Int]
      var k = code
      while (k >= clear) { stack = suffix(k) :: stack; k = prefix(k) }
      stack = k :: stack
      val head = k
      stack.foreach { b => if (outN < out.length) { out(outN) = b.toByte; outN += 1 } }
      head
    }
    var done = false
    while (!done && outN < out.length) {
      while (accBits < width && bi < bytes.length) {
        acc |= (bytes(bi) & 0xFFL) << accBits; accBits += 8; bi += 1
      }
      if (accBits < width) done = true // stream exhausted
      else {
        val code = (acc & ((1 << width) - 1)).toInt
        acc >>>= width; accBits -= width
        if (code == clear) { dictN = eoi + 1; width = mcs + 1; prev = -1 }
        else if (code == eoi) done = true
        else if (prev == -1) {
          if (code >= clear) return None
          expand(code); prev = code
        } else {
          if (code > dictN) return None // a code past the next free slot is corrupt
          val first =
            if (code < dictN) expand(code)
            else { // KwKwK: code == dictN
              var k = prev
              while (k >= clear) k = prefix(k)
              expand(prev)
              if (outN < out.length) { out(outN) = k.toByte; outN += 1 }
              k
            }
          if (dictN < 4096) {
            prefix(dictN) = prev; suffix(dictN) = first
            dictN += 1
            if (dictN == (1 << width) && width < 12) width += 1
          }
          prev = code
        }
      }
    }
    if (outN < w * h) return None // truncated stream
    Some(aHashFold(w, h, (x, y) => {
      val idx = (out(y * w + x) & 0xFF) % nColors
      (palette(idx * 3) & 0xFF) + (palette(idx * 3 + 1) & 0xFF) + (palette(idx * 3 + 2) & 0xFF)
    }))
  }

  /** Per-item perceptual feature string via one partition-mapped pass:
    * images → `ah:<16-hex aHash>`, audio → `env:<16 ratios>`; null when
    * the payload isn't decodable codec-free (compressed containers) —
    * those stay in the byte tiers. */
  def perceptualFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("kind"), col("content"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions(_.map { case (id, kind, c) =>
        val feat =
          if (kind == "image")
            bmpAHash(c).orElse(gifAHash(c)).map(h => f"ah:$h%016x")
          else if (kind == "audio") wavEnvelope(c)
          else None
        (id, kind, feat.orNull)
      })
      .toDF("media_id", "kind", "pfeat")
  }

  /** Perceptual near-dup: cluster by EXACT feature equality — the
    * planted transforms (uniform brightness shift, exact gain change)
    * leave the feature bit-identical by construction, so equality is
    * the correct verify tier here; near-miss features (recompression
    * noise) would ride the existing Hamming band machinery
    * ([[graft.pipeline.TextOps]] dedup_hamming) over the same 64-bit
    * hashes. One hash aggregation + one equi-join back on the group
    * key — the [[dedupExactMedia]] scale shape; payload bytes never
    * shuffle (features are ≤ ~100 B strings). Undecodable payloads
    * keep themselves (singleton key). Returns (media_id, kind, rep,
    * n_members, keep). */
  def nearDupPerceptual(media: DataFrame): DataFrame = {
    val keyed = perceptualFeatures(media)
      .withColumn("k",
        coalesce(col("pfeat"), concat(lit("id:"), col("media_id"))))
    val groups = keyed.groupBy(col("kind"), col("k"))
      .agg(min(col("media_id")).as("rep"), count(lit(1)).as("n_members"))
    keyed.join(groups, Seq("kind", "k"))
      .select(col("media_id"), col("kind"), col("rep").cast("long"),
        col("n_members").cast("long"),
        (col("media_id") === col("rep")).as("keep"))
  }

  /** The relational CONTRACT of the CDC near-dup tier, one row (the
    * pack_invariants pattern: chunk layouts are content-defined and not
    * replayable in SQL, but the clustering's INVARIANTS are exact
    * integers a twin can re-derive from [[MediaSynth.plantCdcVariants]]'
    * id arithmetic):
    *   - coverage / exactly-once: `n_rows` = `n_media` = corpus size
    *     (every media appears exactly once in the output);
    *   - planted recovery: each variant family's count, and per family
    *     the number of variants whose cluster rep DIFFERS from its
    *     base's rep — 0 when the tier works (insertions via chunk
    *     resync, exact copies via the unconditional whole-payload
    *     digest row, truncations/suffixes via shared leading chunks);
    *   - keep/rep consistency: rows where keep ≠ (media_id = rep),
    *     clusters with ≠1 keeper, clusters whose n_members disagrees
    *     with the actual member count — all 0;
    *   - min-chunk floor compliance: emitted chunk rows (len ≥ 0)
    *     shorter than `minBytes` — 0 (the r13 pigeonhole guard).
    * All columns BIGINT; single-row aggregates join 1×1 (BNLJ by
    * design, the packInvariants shape). */
  def cdcInvariants(media: DataFrame, avgBits: Int = 6,
                    minBytes: Int = 24): DataFrame = Staged.run { stage =>
    // r14 OPTIMIZATION (guide §1.2 step 1: don't compute things twice):
    // the synthesized media frame is an opaque mapPartitions source —
    // every scan regenerates every payload byte — and this audit used to
    // scan it THREE times (the clustering's gear fingerprints, the a7
    // fingerprint probe re-running the whole gear scan, and the
    // member-rejoin's (media_id, kind) projection, which cannot be
    // column-pruned through mapPartitions). Persist the payloads once,
    // run the gear scan ONCE into an eager fingerprint checkpoint shared
    // by the clustering and the a7 probe, materialize the one-row result
    // and release everything. Measured 3.19 → 1.81 s at sf0.1
    // (same-window bracket); at sf5 the removed work is a full extra
    // payload-byte pass. A media frame the caller already cached is read
    // through and stays cached.
    val m = stage(media)
    val fps = stage.checkpoint(cdcFingerprints(m, avgBits, minBytes))
    // nearDupMediaCdc's output is already an eager localCheckpoint, so
    // the four family probes below re-read materialized blocks, never
    // re-run the clustering
    val out = stage.own(nearDupMediaCdcFromFps(m, fps))
    val a1 = out.agg(
      count(lit(1)).as("n_rows"),
      countDistinct(col("media_id")).as("n_media"),
      coalesce(sum(when(col("keep") =!= (col("media_id") === col("rep")), 1L)
        .otherwise(0L)), lit(0L)).as("bad_keep"))
    val perCluster = out.groupBy(col("rep")).agg(
      count(lit(1)).as("sz"),
      sum(when(col("keep"), 1L).otherwise(0L)).as("keeps"),
      min(col("n_members")).as("nm_lo"), max(col("n_members")).as("nm_hi"))
    val a2 = perCluster.agg(
      coalesce(sum(when(col("keeps") =!= 1L, 1L).otherwise(0L)), lit(0L))
        .as("multi_keep"),
      coalesce(sum(when(col("nm_lo") =!= col("sz") || col("nm_hi") =!= col("sz"),
        1L).otherwise(0L)), lit(0L)).as("bad_members"))
    val reps = out.select(col("media_id"), col("rep"))
    val baseReps = reps.where(col("media_id") < 1000000000L)
      .select(col("media_id").as("bid"), col("rep").as("brep"))
    def fam(off: Long, nCol: String, splitCol: String): DataFrame =
      reps.where(col("media_id") >= off && col("media_id") < off + 1000000000L)
        .select((col("media_id") - off).as("bid"), col("rep").as("vrep"))
        .join(baseReps, "bid")
        .agg(count(lit(1)).as(nCol),
          coalesce(sum(when(col("vrep") =!= col("brep"), 1L).otherwise(0L)),
            lit(0L)).as(splitCol))
    val a7 = fps.agg(
      coalesce(sum(when(col("len") >= 0 && col("len") < minBytes, 1L)
        .otherwise(0L)), lit(0L)).as("short_chunks"))
    a1.join(a2, lit(true))
      .join(fam(1000000000L, "n_trunc", "trunc_split"), lit(true))
      .join(fam(2000000000L, "n_suffix", "suffix_split"), lit(true))
      .join(fam(3000000000L, "n_ins", "ins_split"), lit(true))
      .join(fam(4000000000L, "n_exact", "exact_split"), lit(true))
      .join(a7, lit(true))
      .localCheckpoint(true) // one row; lets the staged frames go
  }

  /** Shared digest-collapse → candidate join → connected components
    * ([[graft.gx.GraphXTraversal.components]]) → member-rejoin stage
    * behind [[nearDupMedia]] and [[nearDupMediaCdc]]; `fps` must carry
    * (media_id, digest, keyCols…). */
  private def clusterByChunks(media: DataFrame, fpsIn: DataFrame,
                              keyCols: Seq[String]): DataFrame = Staged.run { stage =>
    val fps = stage(fpsIn)
    val memberDigest = fps.groupBy(col("media_id"))
      .agg(first(col("digest")).as("digest"))
    val repIds = memberDigest
      .groupBy(col("digest")).agg(min(col("media_id")).as("drep"))
    val rfps = stage(fps.join(repIds,
        fps("digest") === repIds("digest") && fps("media_id") === repIds("drep"))
      .select(col("drep") +: keyCols.map(fps(_)): _*)
      .distinct())
    val cond = keyCols.map(k => col(s"x.$k") === col(s"y.$k"))
      .reduce(_ && _) && col("x.drep") < col("y.drep")
    val pairs = rfps.as("x").join(rfps.as("y"), cond)
      .select(col("x.drep").as("a"), col("y.drep").as("b"))
      .distinct()
    // the component labels are released with the staging
    val compDF = stage.own(GraphXTraversal.components(pairs))
      .select(col("v").as("drep"), col("lbl").as("comp"))
    val assigned = media.select(col("media_id").cast("long"), col("kind"))
      .join(memberDigest, Seq("media_id"), "left")
      .join(repIds, Seq("digest"), "left")
      .join(compDF, Seq("drep"), "left")
      .select(col("media_id"), col("kind"),
        coalesce(col("comp"), col("drep"), col("media_id")).as("rep"))
    val sizes = assigned.groupBy(col("rep"))
      .agg(count(lit(1)).as("n_members"))
    assigned.join(sizes, "rep")
      .select(col("media_id"), col("kind"), col("rep").cast("long"),
        col("n_members").cast("long"),
        (col("media_id") === col("rep")).as("keep"))
      .localCheckpoint(true)
  }

  /** Batch-shape audit: rows per partition — the knob that decides decoder
    * memory footprint at 100 TB (pair with repartition/maxPartitionBytes). */
  def partitionHistogram(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(spark_partition_id().as("pid"))
      .groupBy($"pid").count()
  }
}
