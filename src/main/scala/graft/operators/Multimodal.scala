package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column handling: image/audio/video payloads ride as
  * opaque `binary` columns with a typed metadata struct, and
  * decode/feature steps run as partition-batched transforms.
  *
  * The actual media decode is STUBBED (this container has no image/
  * audio codecs): [[decodeStub]] derives deterministic pseudo-features
  * from the payload bytes. Everything around the stub — the schema
  * contract, `spark.read.format("binaryFile")` compatibility, the
  * mapPartitions batch shape (one codec init per partition, stream of
  * rows through it, mirroring a Pandas-UDF batch), and the
  * partition-size guidance — is real and tested.
  *
  * Scale notes: payloads dominate row width, so (a) media tables are
  * stored payload-separate (parquet with a path/offset pointer or
  * payloads in sidecar object storage) when rows exceed ~1 MB, (b)
  * `spark.sql.files.maxPartitionBytes` bounds decode-task memory, and
  * (c) feature extraction outputs (small fixed-width vectors) are
  * written to a separate gold table so downstream ANN never rescans
  * payload bytes.
  */
object Multimodal {

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("payload", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("mime", StringType, nullable = true),
      StructField("n_bytes", LongType, nullable = true),
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true))), nullable = true)))

  /** Real binary-file ingestion: `spark.read.format("binaryFile")`
    * mapped into the media schema. Path/length come from the source
    * metadata; width/height stay null until decode.
    */
  def readBinaryFiles(spark: org.apache.spark.sql.SparkSession, pathGlob: String,
      mime: String = "application/octet-stream"): DataFrame =
    spark.read.format("binaryFile").load(pathGlob)
      .select(
        xxhash64(col("path")).as("media_id"),
        col("content").as("payload"),
        struct(
          lit(mime).as("mime"),
          col("length").as("n_bytes"),
          lit(null).cast("int").as("width"),
          lit(null).cast("int").as("height")).as("meta"))

  /** Wrap any (id, string) DataFrame into the media schema with a
    * deterministic fake payload — the test-data generator for the
    * multimodal path.
    */
  def synthesize(df: DataFrame, idCol: String, textCol: String,
      mime: String = "image/fake"): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      encode(col(textCol), "UTF-8").as("payload"),
      struct(
        lit(mime).as("mime"),
        length(col(textCol)).cast("long").as("n_bytes"),
        (pmod(col(idCol).cast("long"), lit(64L)) + 1).cast("int").as("width"),
        (pmod(col(idCol).cast("long"), lit(48L)) + 1).cast("int").as("height"))
        .as("meta"))

  /** Deterministic STRUCTURED-payload synthesizer — the q182 fixture:
    * REAL container header bytes (PNG signature+IHDR; JPEG with a
    * variable-length APP0 so the marker walk is exercised; WAV with a
    * JUNK chunk before `fmt ` so the chunk walk is) followed by
    * pseudo body bytes. Every header field is a pure function of the
    * id, so the DuckDB oracle predicts the parsed values from the
    * construction (the q163 planted-lifecycle convention).
    */
  def synthesizeStructured(df: DataFrame, idCol: String): DataFrame = {
    val gen = udf { id: Long => structuredPayload(id) }
    df.select(col(idCol).cast("long").as("media_id"))
      .withColumn("payload", gen(col("media_id")))
      .withColumn("meta", struct(
        lit("application/octet-stream").as("mime"),
        length(col("payload")).cast("long").as("n_bytes"),
        lit(null).cast("int").as("width"),
        lit(null).cast("int").as("height")))
  }

  private[operators] def structuredPayload(id: Long): Array[Byte] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[Byte]
    def be16(v: Long): Unit = { buf += (v >> 8).toByte; buf += v.toByte; () }
    def be32(v: Long): Unit = {
      buf += (v >> 24).toByte; buf += (v >> 16).toByte
      buf += (v >> 8).toByte; buf += v.toByte; ()
    }
    def le16(v: Long): Unit = { buf += v.toByte; buf += (v >> 8).toByte; () }
    def le32(v: Long): Unit = {
      buf += v.toByte; buf += (v >> 8).toByte
      buf += (v >> 16).toByte; buf += (v >> 24).toByte; ()
    }
    def ascii(s: String): Unit = { buf ++= s.getBytes("US-ASCII"); () }
    def body(n: Int): Unit = { (0 until n).foreach(i => buf += ((id + i) % 251).toByte); () }
    (id % 3) match {
      case 0 => // PNG
        buf ++= Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
        be32(13); ascii("IHDR")
        be32(16 + id % 64); be32(16 + id % 48)
        buf += 8.toByte
        buf += Array(0, 2, 6)(((id / 3) % 3).toInt).toByte
        buf += 0; buf += 0; buf += 0
        be32(0) // crc not validated by the parser
        body((1 + (id % 7)).toInt * 64)
      case 1 => // JPEG: APP0 of id-dependent length, then SOF0
        val app0 = 14 + (id % 8).toInt
        val ch = if ((id / 3) % 2 == 0) 3 else 1
        buf += 0xff.toByte; buf += 0xd8.toByte
        buf += 0xff.toByte; buf += 0xe0.toByte
        be16(app0 + 2L); (0 until app0).foreach(i => buf += ((id + i) % 97).toByte)
        buf += 0xff.toByte; buf += 0xc0.toByte
        be16(8L + 3 * ch); buf += 8.toByte
        be16(32 + id % 100); be16(32 + id % 80)
        buf += ch.toByte
        (0 until 3 * ch).foreach(i => buf += i.toByte)
        buf += 0xff.toByte; buf += 0xd9.toByte
      case _ => // WAV: JUNK chunk, then fmt + data
        val ch = 1 + ((id / 3) % 2).toInt
        val rate = 8000 + (id % 4) * 4000
        val frames = 100 + (id % 50).toInt
        val blockAlign = ch * 2
        val dataSz = frames.toLong * blockAlign
        ascii("RIFF"); le32(4 + 16 + 24 + 8 + dataSz); ascii("WAVE")
        ascii("JUNK"); le32(8); body(8)
        ascii("fmt "); le32(16)
        le16(1); le16(ch.toLong); le32(rate)
        le32(rate * blockAlign); le16(blockAlign.toLong); le16(16)
        ascii("data"); le32(dataSz); body(dataSz.toInt)
    }
    buf.toArray
  }

  /** STUB decode + feature extraction: per-partition batch transform
    * producing a fixed-width feature vector per payload. A real
    * deployment swaps `fakeDecode` for a codec call; the partition
    * batching (init once, stream rows) is the part that matters.
    */
  def decodeStub(media: DataFrame, dim: Int = 8): DataFrame = {
    val outSchema = StructType(media.schema.fields ++ Seq(
      StructField("features", ArrayType(FloatType), nullable = true)))
    val rows: Dataset[Row] = media.mapPartitions { it =>
      // one-time per-partition "codec init" happens here
      it.map { r =>
        val payload = r.getAs[Array[Byte]]("payload")
        Row.fromSeq(r.toSeq :+ fakeDecode(payload, dim))
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
    rows
  }

  /** Deterministic pseudo-decode: byte histogram folded into `dim`
    * buckets, normalized. Stands in for image decode + pooling.
    */
  private[operators] def fakeDecode(payload: Array[Byte], dim: Int): Array[Float] = {
    if (payload == null) return Array.fill(dim)(0.0f)
    val acc = new Array[Float](dim)
    var i = 0
    while (i < payload.length) {
      acc(java.lang.Byte.toUnsignedInt(payload(i)) % dim) += 1.0f
      i += 1
    }
    val n = math.max(1, payload.length).toFloat
    acc.map(_ / n)
  }

  /** "Resize": stub that rewrites the metadata dimensions (payload
    * untouched — a real impl would transcode in the same partition
    * batch).
    */
  def resize(media: DataFrame, w: Int, h: Int): DataFrame =
    media.withColumn("meta", struct(
      col("meta.mime").as("mime"),
      col("meta.n_bytes").as("n_bytes"),
      lit(w).as("width"), lit(h).as("height")))

  /** Perceptual near-dup candidates over binary payloads — the
    * multimodal counterpart of the text LSH tier, routed through the
    * SAME sign-LSH bucketing (`SignBucketExpr`): bucketed, never
    * all-pairs.
    *
    * Pipeline (integer-exact end to end, so the q126 DuckDB oracle
    * replays it rather than trusting a contract):
    *  1. [[decodeStub]] features → integer byte-bucket counts
    *     (c[b]·n_bytes recovered exactly, the q50 convention);
    *  2. perceptual signature = sign bucket of the OCCUPANCY
    *     DEVIATION vector (c[b]·dim − n): bit b set iff bucket b is
    *     at or above its uniform share — the render-invariant "shape
    *     of the byte distribution", and a direct `sign_bucket` call
    *     because deviation ≥ 0 is exactly its bit rule;
    *  3. same-signature docs pair within hot-bucket-capped buckets
    *     ([[HotBuckets.dropOversized]] — a degenerate signature
    *     carries no near-dup signal worth O(m²));
    *  4. verification: cross-scaled integer L1,
    *     Σ_b |c1[b]·n2 − c2[b]·n1| · 1000 ≤ thrPermille·n1·n2 ⟺
    *     normalized-histogram L1 ≤ thrPermille/1000 — no floats, no
    *     engine divergence. Exact payload copies score 0.
    *
    * A real deployment swaps the stub histogram for decoded
    * perceptual features (pHash planes, embedding signs) — every
    * stage downstream of [[decodeStub]] is unchanged.
    */
  def perceptualNearDupCandidates(media: DataFrame, dim: Int = 8,
      maxBucketSize: Int = 64, thrPermille: Int = 100): DataFrame =
    perceptualCore(media, dim, maxBucketSize, thrPermille, lit(""))

  /** [[perceptualNearDupCandidates]] BLOCKED by parsed container
    * headers (the r10 verdict's header-aware tier): candidates must
    * share format, channel count, and — for images — the
    * aspect-ratio permille band (width·1000 div height), or — for
    * audio — the sample rate. A resized twin keeps its aspect band,
    * so it stays pairable; a cross-format or cross-geometry pair
    * never reaches the O(m²) bucket join at all. Header parse is the
    * native [[graft.plans.MediaHeaderExpr]] walk, one pass per
    * payload inside the same scan.
    */
  def headerBlockedPerceptualCandidates(media: DataFrame, dim: Int = 8,
      maxBucketSize: Int = 64, thrPermille: Int = 100): DataFrame = {
    val withHdr = media.withColumn("__hdr",
      graft.plans.MediaHeaderExpr.media_header(col("payload")))
    val block = concat_ws(":",
      col("__hdr.fmt"),
      coalesce(col("__hdr.channels"), lit(-1L)).cast("string"),
      coalesce(expr("__hdr.width * 1000 div __hdr.height"),
        col("__hdr.sample_rate"), lit(-1L)).cast("string"))
    perceptualCore(withHdr, dim, maxBucketSize, thrPermille, block)
  }

  /** CONTENT-TRUE perceptual near-dup for 16-bit PCM WAV payloads —
    * the feature upgrade the header tier (q182/q186) enables: instead
    * of the whole-payload byte histogram, the signature comes from the
    * per-band PCM ENERGY PROFILE ([[graft.plans.PcmEnergyExpr]] — the
    * `data` chunk's samples split into `bands` time segments,
    * Σ|sample| each, integer-exact). What that buys over bytes:
    *
    *  - a VOLUME-SCALED copy (every sample × c) scales every band by
    *    c, so the occupancy-sign bucket and the cross-scaled L1
    *    (Σ_b |e1[b]·T2 − e2[b]·T1|, T = total energy) are invariant —
    *    L1 is exactly 0, where the byte histogram sees different
    *    bytes and misses the twin;
    *  - a RE-ENCODED container (junk chunks, chunk order) around the
    *    same PCM contributes nothing — only the located data bytes
    *    enter the profile.
    *
    * Blocking: channels and sample rate from the header walk (the
    * q186 rule — cross-geometry audio never meets). Non-PCM payloads
    * return null features and stay on the byte-histogram tier
    * ([[headerBlockedPerceptualCandidates]]); this operator handles
    * the uncompressed-audio slice of the corpus.
    *
    * Scale shape identical to the histogram tier: one header+energy
    * pass inside the scan, bands-length longs on the wire, sign-bucket
    * keyed self-join hot-capped, integer L1 gate — no decode deps, no
    * all-pairs.
    */
  def pcmPerceptualCandidates(media: DataFrame, bands: Int = 8,
      maxBucketSize: Int = 64, thrPermille: Int = 10): DataFrame = {
    require(bands >= 1 && bands <= 63, "bands must fit the sign-bucket bit range")
    // header+energy pass ONCE, then materialize (the signatureFrame
    // treatment: downstream references the frame 4+ times and the
    // pushed filters would re-evaluate the kernels per duplicated
    // scan); payload bytes never enter the checkpoint
    val decoded = media
      .select(col("media_id"),
        graft.plans.MediaHeaderExpr.media_header(col("payload")).as("__hdr"),
        graft.plans.PcmEnergyExpr.pcm_energy(col("payload"), bands).as("__e"))
      .localCheckpoint(false)
    val withKey = decoded
      .filter(col("__hdr.fmt") === "wav" && col("__e").isNotNull)
      .withColumn("__t", expr("aggregate(__e, 0L, (acc, v) -> acc + v)"))
      .filter(col("__t") >= 1L)
      .withColumn("__key", concat_ws("|",
        concat_ws(":", col("__hdr.channels").cast("string"),
          col("__hdr.sample_rate").cast("string")),
        graft.plans.SignBucketExpr.sign_bucket(
          expr(s"transform(__e, v -> CAST(v * $bands - __t AS DOUBLE))"), bands)
          .cast("string")))
      .select(col("media_id").as("id"), col("__key"),
        col("__e").as("__v"), col("__t"))
    groupedSignaturePairs(withKey, maxBucketSize)
      .withColumn("l1", expr(
        // Cross-multiplied terms ride DECIMAL(38,0) (the q180/q198
        // overflow convention): band energy × total energy reaches
        // ~1e27 for minutes-long 16-bit PCM, far past Long range —
        // Long arithmetic here would wrap silently (ANSI off) on
        // exactly the corpora this operator targets.
        "aggregate(zip_with(v1, v2, (x, y) -> abs(CAST(x AS DECIMAL(38,0)) * t2 - CAST(y AS DECIMAL(38,0)) * t1)), " +
          "CAST(0 AS DECIMAL(38,0)), (acc, v) -> CAST(acc + v AS DECIMAL(38,0)))"))
      .filter(col("l1") * 1000 <=
        lit(thrPermille.toLong) * col("t1").cast("decimal(38,0)") * col("t2"))
      .select("id1", "id2", "l1")
  }

  /** Deterministic 16-bit PCM WAV payload — the q196 fixture: mono,
    * id-dependent sample rate, `64 + id % 33` samples with
    * sample(i) = ((id·31 + i·17) mod 2001) − 1000, all stored × `scale`
    * (the volume knob), behind a JUNK chunk whose content the
    * `headerVariant` flag changes (the re-encode knob: same PCM,
    * different container bytes). Every byte is a pure id formula, so
    * the oracle rebuilds the energy pipeline from the construction.
    */
  /** Synthesize [[wavPcmPayload]] WAVs from a (media_id, base id,
    * volume scale, header-variant flag) frame — the q196 fixture
    * builder. */
  def synthesizeWavPcm(df: DataFrame, idCol: String, baseCol: String,
      scaleCol: String, variantCol: String): DataFrame = {
    val gen = udf { (base: Long, scale: Int, hv: Boolean) =>
      wavPcmPayload(base, scale, hv) }
    df.select(col(idCol).cast("long").as("media_id"),
      gen(col(baseCol), col(scaleCol), col(variantCol)).as("payload"))
  }

  private[graft] def wavPcmPayload(id: Long, scale: Int,
      headerVariant: Boolean): Array[Byte] = {
    val ns = (64 + id % 33).toInt
    val rate = 8000 + (id % 4) * 4000
    val junk = if (headerVariant) Array.fill(12)(0x55.toByte)
      else (0 until 8).map(i => ((id + i) % 251).toByte).toArray
    val buf = scala.collection.mutable.ArrayBuffer.empty[Byte]
    def le16(v: Long): Unit = { buf += v.toByte; buf += (v >> 8).toByte; () }
    def le32(v: Long): Unit = {
      buf += v.toByte; buf += (v >> 8).toByte
      buf += (v >> 16).toByte; buf += (v >> 24).toByte; ()
    }
    def ascii(s: String): Unit = { buf ++= s.getBytes("US-ASCII"); () }
    ascii("RIFF"); le32(4L + 8 + junk.length + 24 + 8 + ns * 2); ascii("WAVE")
    ascii("JUNK"); le32(junk.length.toLong); buf ++= junk
    ascii("fmt "); le32(16L)
    le16(1L); le16(1L); le32(rate); le32(rate * 2); le16(2L); le16(16L)
    ascii("data"); le32(ns * 2L)
    (0 until ns).foreach { i =>
      le16((((id * 31 + i * 17) % 2001 - 1000) * scale) & 0xffffL)
    }
    buf.toArray
  }

  /** [[pcmPerceptualCandidates]] with `bands` derived from the corpus
    * size — the r12 saturation fix: at the fixed default (bands = 8,
    * ~1 024 signature buckets) a 500 k-payload corpus drives every
    * bucket past the hot cap and the run silently returns ZERO
    * candidates (documented in SCALE.md's round-12 100× note). The
    * [[Similarity.autoBits]] pattern holds the EXPECTED per-bucket
    * population constant instead: bands = max(8, autoBits(n,
    * targetBucketSize, 63)), floored at the historical default so
    * small corpora keep their exact q196 behavior. Sizing reads
    * |media| (one count() job — or pass `knownCount` to stay lazy,
    * the [[Similarity.nearDupesAnnAuto]] contract); rows that fail
    * PCM decode only shrink buckets below the target, never inflate
    * them. More bands never lose a TRUE twin: identical PCM yields
    * the identical profile at any band count — the resolution only
    * sharpens which non-twins stop colliding.
    */
  def pcmPerceptualCandidatesAuto(media: DataFrame,
      targetBucketSize: Int = 16, maxBucketSize: Int = 64,
      thrPermille: Int = 10, knownCount: Option[Long] = None): DataFrame = {
    val n = sizeOf(media, knownCount)
    val bands = math.max(8, Similarity.autoBits(n, targetBucketSize, 63))
    pcmPerceptualCandidates(media, bands, maxBucketSize, thrPermille)
  }

  /** Corpus size for the lazy auto-sizing variants: the declared
    * count when given, else an EXACT metadata row count (local
    * relation or parquet footers —
    * [[org.apache.spark.sql.GraftTableStats.exactRowCount]]: no job,
    * no payload scan — the r14 "the count pass decodes nothing yet
    * still scans every payload" fix), else one `count()` job. Never
    * an estimate: the auto derivations are replayed by oracles, so an
    * approximate n would be a correctness bug. One shared ladder
    * ([[org.apache.spark.sql.GraftTableStats.sizeOf]]) — the
    * Similarity auto variants ride the identical definition.
    */
  private def sizeOf(media: DataFrame, knownCount: Option[Long]): Long =
    org.apache.spark.sql.GraftTableStats.sizeOf(media, knownCount)

  /** PIXEL-TRUE perceptual near-dup for PNG (the q186 feature upgrade
    * for images, the [[pcmPerceptualCandidates]] twin for the visual
    * tier): the signature is the [[graft.plans.PngBlockMeanExpr]]
    * grid×grid block-mean luminance profile — decoded pixels, not
    * payload bytes — so a RE-ENCODED twin (different scanline
    * filters, different deflate level, an added alpha channel: every
    * compressed byte differs) pairs at L1 = 0, and an integral
    * nearest-neighbor RESIZED twin (grid-divisible dimensions) pairs
    * exactly too, while the byte-histogram tier misses both. Formats
    * the kernel can't decode (JPEG, interlaced or 16-bit PNG) return
    * null features and simply stay on the q186 histogram tier.
    *
    * Scale shape identical to the PCM tier: one decode pass inside
    * the scan, grid² longs on the wire, sign-bucket-keyed self-join
    * hot-capped, integer L1 gate. The cross-multiplied gate is
    * Long-safe BY CONSTRUCTION here (mean_e3 ≤ 255 000 and
    * t ≤ 49·255 000, so every product stays ≤ ~2e17) — the PCM tier's
    * DECIMAL(38,0) treatment is not needed because the feature is a
    * bounded mean, not an unbounded sum.
    */
  def pngPerceptualCandidates(media: DataFrame, grid: Int = 4,
      maxBucketSize: Int = 64, thrPermille: Int = 10): DataFrame =
    perceptualSelfPairs(signatureFrame(media,
      graft.plans.PngBlockMeanExpr.png_block_means(col("payload"), grid),
      grid), maxBucketSize, thrPermille)

  /** The shared image SIGNATURE stage: feature column → `(id, __key,
    * __f, __t)` rows. One definition, used by every grid-profile tier
    * (png, jpeg, cross-format) — the gate/cap semantics cannot
    * silently diverge between them. No format/dimension term in the
    * key: the profile is resolution-normalized, so resized twins MUST
    * share a bucket.
    */
  private def signatureFrame(media: DataFrame, feature: Column,
      grid: Int): DataFrame = {
    require(grid >= 1 && grid <= 7, "grid^2 must fit the sign-bucket bit range")
    val n = grid * grid
    // DECODE ONCE, then materialize (localCheckpoint — the Dedup
    // connected-components convention): the candidate machinery
    // downstream references this frame four-plus times (cap count,
    // both self-join legs, every probe leg), and Catalyst duplicates
    // the subtree for each reference — the executed q203 plan ran the
    // payload decode through 10+ scans, and the pushed
    // isnotnull(decode(payload)) data filter evaluated the kernel a
    // second time per scan. The checkpoint cuts the lineage at the
    // (id, __f) proxy — grid² longs per image, the guide-§8 "decide
    // with small rows" shape — so payload bytes are read and decoded
    // exactly once per run, here. Recomputed on every invocation:
    // nothing persists across runs.
    val decoded = media
      .select(col("media_id"), feature.as("__f"))
      .localCheckpoint(false)
    decoded
      .filter(col("__f").isNotNull)
      .withColumn("__t", expr("aggregate(__f, 0L, (acc, v) -> acc + v)"))
      .filter(col("__t") >= 1L)
      .withColumn("__key", graft.plans.SignBucketExpr.sign_bucket(
        expr(s"transform(__f, v -> CAST(v * $n - __t AS DOUBLE))"), n))
      .select(col("media_id").as("id"), col("__key"), col("__f"), col("__t"))
  }

  /** The shared candidate stage over a signature frame: one grouped
    * member-set aggregate per sign bucket ([[groupedSignaturePairs]] —
    * the hot-bucket cap is the set-size filter), cross-multiplied
    * integer L1 gate. Long-safe by construction (mean_e3 ≤ 255 000,
    * t ≤ 49·255 000 — bounded means, not unbounded sums, so the PCM
    * tier's DECIMAL(38,0) treatment is not needed).
    */
  private def perceptualSelfPairs(sigs: DataFrame, maxBucketSize: Int,
      thrPermille: Int): DataFrame =
    groupedSignaturePairs(
        sigs.select(col("id"), col("__key"), col("__f").as("__v"),
          col("__t")),
        maxBucketSize)
      .withColumn("l1", expr(
        "aggregate(zip_with(v1, v2, (x, y) -> abs(x * t2 - y * t1)), 0L, (acc, v) -> acc + v)"))
      .filter(col("l1") * 1000 <=
        lit(thrPermille.toLong) * col("t1") * col("t2"))
      .select("id1", "id2", "l1")

  /** Synthesize [[pngPayload]] PNGs from a (media_id, base id,
    * nearest-neighbor scale, re-encode-variant flag) frame — the q203
    * fixture builder. The variant flag flips EVERY compressed byte
    * (alpha channel added, scanline filters cycled through all five
    * spec types, max deflate level) around the identical pixels. */
  def synthesizePng(df: DataFrame, idCol: String, baseCol: String,
      scaleCol: String, variantCol: String): DataFrame = {
    val gen = udf { (base: Long, scale: Int, variant: Boolean) =>
      pngPayload(base, scale, variant) }
    df.select(col(idCol).cast("long").as("media_id"),
      gen(col(baseCol), col(scaleCol), col(variantCol)).as("payload"))
  }

  /** Deterministic PNG payload — the q203 fixture: a 16×16 base image
    * with v(x,y) = (id·31 + x·(7 + id mod 11) + y·(13 + id mod 17))
    * mod 256 and RGB = (v, 3v mod 256, 5v mod 256), nearest-neighbor
    * upscaled by `scale`. The id rides the x/y SLOPES, not just the
    * offset — an offset-only formula collapses to 256 distinct images
    * and saturates the hot-bucket cap at scale (the q196 lesson);
    * with the slopes, ids collide only at Δ ≡ 0 mod 256·11·17. `variant = false` encodes RGB, all-zero filters,
    * deflate level 1; `variant = true` encodes RGBA (alpha 255),
    * filter type y mod 5 per row (exercising None/Sub/Up/Average/
    * Paeth), deflate level 9, and splits the stream across two IDAT
    * chunks — same pixels, not one shared compressed byte. Every
    * pixel is a pure id formula, so the oracle rebuilds the
    * block-mean pipeline from the construction without decoding.
    */
  private[graft] def pngPayload(id: Long, scale: Int,
      variant: Boolean): Array[Byte] = {
    val base = 16
    val w = base * scale; val h = base * scale
    val ch = if (variant) 4 else 3
    val rowBytes = w * ch
    def px(x: Int, y: Int): Int =
      (((id * 31 + (x / scale) * (7 + id % 11) +
        (y / scale) * (13 + id % 17)) % 256) + 256).toInt % 256
    val raw = new Array[Byte](h * (1 + rowBytes))
    for (y <- 0 until h) {
      val rs = y * (1 + rowBytes)
      raw(rs) = (if (variant) y % 5 else 0).toByte
      for (x <- 0 until w) {
        val v = px(x, y)
        val o = rs + 1 + x * ch
        raw(o) = v.toByte
        raw(o + 1) = ((v * 3) % 256).toByte
        raw(o + 2) = ((v * 5) % 256).toByte
        if (variant) raw(o + 3) = 0xff.toByte
      }
    }
    // apply the declared per-row filter over the raw neighbor values
    val filt = new Array[Byte](raw.length)
    for (y <- 0 until h) {
      val rs = y * (1 + rowBytes)
      val ft = raw(rs) & 0xff
      filt(rs) = raw(rs)
      for (x <- 0 until rowBytes) {
        val cur = raw(rs + 1 + x) & 0xff
        val a = if (x >= ch) raw(rs + 1 + x - ch) & 0xff else 0
        val up = if (y > 0) raw(rs - rowBytes + x) & 0xff else 0
        val c = if (y > 0 && x >= ch) raw(rs - rowBytes + x - ch) & 0xff else 0
        val pred = ft match {
          case 0 => 0
          case 1 => a
          case 2 => up
          case 3 => (a + up) >> 1
          case _ =>
            val pv = a + up - c
            val pa = math.abs(pv - a); val pb = math.abs(pv - up)
            val pc = math.abs(pv - c)
            if (pa <= pb && pa <= pc) a else if (pb <= pc) up else c
        }
        filt(rs + 1 + x) = ((cur - pred) & 0xff).toByte
      }
    }
    pngContainer(filt, w, h, colorType = if (variant) 6 else 2,
      deflateLevel = if (variant) 9 else 1, splitIdat = variant)
  }

  /** Synthesize [[pngColorBt601Payload]] color PNGs from a (media_id,
    * base id, scale) frame — the q216 fixture builder.
    */
  def synthesizePngColor(df: DataFrame, idCol: String, baseCol: String,
      scaleCol: String): DataFrame = {
    val gen = udf { (base: Long, scale: Int) =>
      pngColorBt601Payload(base, scale) }
    df.select(col(idCol).cast("long").as("media_id"),
      gen(col(baseCol), col(scaleCol)).as("payload"))
  }

  /** Deterministic COLOR PNG whose integer-BT.601 luma plane equals
    * [[jpegPayload]]'s decoded Y plane exactly — the q216 fixture:
    * each 8×8 block is a uniform (r, g, b) with r and b jittered
    * around the target luma t = 128 + dc(bx, by) (the q208 formula)
    * and g SOLVED so the JPEG-encoder reduction lands on t exactly:
    *
    *   g = ⌈(65536·t − 32768 − 19595·r − 7471·b) / 38470⌉
    *   ⟹ (19595·r + 38470·g + 7471·b + 32768) >> 16 = t
    *
    * (the numerator after rounding stays within one 38470-step of
    * 65536·t, and 38470 < 65536 — so the floor is t by construction;
    * the jitter keeps |r−t| ≤ 10 and |b−t| ≤ 8, putting g within
    * [t−8, t+6] ⊂ [0, 255] for every t the dc formula produces).
    * The LEGACY luma of the same pixels differs from t at almost
    * every block (the jitter is the point), so the fixture separates
    * the two models: exact L1 = 0 pairing under `bt601 = true`,
    * rounding-level mismatch under the default.
    */
  private[graft] def pngColorBt601Payload(id: Long, scale: Int): Array[Byte] = {
    val nB = 4 * scale
    val w = nB * 8; val h = w
    def dcOf(bx: Int, by: Int): Int = dcBlock(id, scale, bx, by)
    def rgb(bx: Int, by: Int): (Int, Int, Int) = {
      val t = 128 + dcOf(bx, by)
      val r = t + (((id + bx) % 21) - 10).toInt
      val b = t + (((id + by) % 17) - 8).toInt
      val num = 65536L * t - 32768L - 19595L * r - 7471L * b
      val g = ((num + 38469L) / 38470L).toInt
      (r, g, b)
    }
    val ch = 3
    val rowBytes = w * ch
    val raw = new Array[Byte](h * (1 + rowBytes))
    for (y <- 0 until h) {
      val rs = y * (1 + rowBytes)
      raw(rs) = 0 // filter None on every row
      for (x <- 0 until w) {
        val (r, g, b) = rgb(x / 8, y / 8)
        val o = rs + 1 + x * ch
        raw(o) = r.toByte; raw(o + 1) = g.toByte; raw(o + 2) = b.toByte
      }
    }
    pngContainer(raw, w, h, colorType = 2, deflateLevel = 1,
      splitIdat = false)
  }

  /** THE shared DC block formula of the whole image-fixture family
    * (q208/q212/q213/q215/q216 and their oracles): block (bx, by) of
    * the `scale`-times NN-upscaled image carries the uniform value
    * dc = ((id·31 + bx'·(7 + id%31) + by'·(13 + id%29) +
    * bx'·by'·(11 + id%23)) mod 201) − 100 with bx' = bx/scale — the
    * id rides the SLOPES and the bilinear term (the r14
    * fixture-entropy lesson: a planar formula had only 187 reachable
    * sign keys). ONE definition: the r14 fix needed lockstep edits of
    * every copy, so the copies are gone — any change here must still
    * be mirrored in the SQL oracle texts, which is exactly one place
    * per query by construction.
    */
  private[graft] def dcBlock(id: Long, scale: Int, bx: Int, by: Int): Int =
    (((id * 31 + (bx / scale) * (7 + id % 31) +
      (by / scale) * (13 + id % 29) +
      (bx / scale) * (by / scale) * (11 + id % 23)) % 201) + 201).toInt % 201 - 100

  /** Shared PNG container writer for the fixture family: wraps
    * already-FILTERED scanline bytes in IHDR/IDAT/IEND with CRCs,
    * deflating at `deflateLevel` and optionally splitting the stream
    * across two IDAT chunks (decoders must concatenate).
    */
  private def pngContainer(filtered: Array[Byte], w: Int, h: Int,
      colorType: Int, deflateLevel: Int, splitIdat: Boolean): Array[Byte] = {
    val defl = new java.util.zip.Deflater(deflateLevel)
    defl.setInput(filtered); defl.finish()
    val zout = new java.io.ByteArrayOutputStream()
    val zbuf = new Array[Byte](8192)
    while (!defl.finished()) zout.write(zbuf, 0, defl.deflate(zbuf))
    defl.end()
    val comp = zout.toByteArray
    val out = new java.io.ByteArrayOutputStream()
    def be32(v: Long): Unit = {
      out.write(((v >> 24) & 0xff).toInt); out.write(((v >> 16) & 0xff).toInt)
      out.write(((v >> 8) & 0xff).toInt); out.write((v & 0xff).toInt)
    }
    def chunk(typ: String, data: Array[Byte]): Unit = {
      be32(data.length.toLong)
      val tb = typ.getBytes("US-ASCII")
      val crc = new java.util.zip.CRC32()
      crc.update(tb); crc.update(data)
      out.write(tb); out.write(data, 0, data.length); be32(crc.getValue)
    }
    out.write(Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte), 0, 8)
    val ihdr = new Array[Byte](13)
    ihdr(0) = ((w >> 24) & 0xff).toByte; ihdr(1) = ((w >> 16) & 0xff).toByte
    ihdr(2) = ((w >> 8) & 0xff).toByte; ihdr(3) = (w & 0xff).toByte
    ihdr(4) = ((h >> 24) & 0xff).toByte; ihdr(5) = ((h >> 16) & 0xff).toByte
    ihdr(6) = ((h >> 8) & 0xff).toByte; ihdr(7) = (h & 0xff).toByte
    ihdr(8) = 8; ihdr(9) = colorType.toByte
    ihdr(10) = 0; ihdr(11) = 0; ihdr(12) = 0
    chunk("IHDR", ihdr)
    if (splitIdat) {
      val split = comp.length / 2
      chunk("IDAT", comp.take(split)); chunk("IDAT", comp.drop(split))
    } else chunk("IDAT", comp)
    chunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** Signature-grid sizing for the IMAGE perceptual tiers — the
    * [[pcmPerceptualCandidatesAuto]] saturation fix applied to the
    * grid² sign-bucket space: the smallest grid whose bucket count
    * 2^(grid²) holds the expected per-bucket population at
    * `targetBucketSize` (bits = [[Similarity.autoBits]]), i.e. the
    * smallest g with g² ≥ bits, floored at the historical default 4
    * (small corpora stay bit-identical to q203) and capped at 7 (the
    * sign-bucket bit range). Grid 4's 65 536 buckets hold ~10M images
    * at the default target; past that the fixed default would drive
    * every bucket over the hot cap exactly as fixed PCM bands did at
    * 100× (SCALE.md round-12). A wider grid never loses a true
    * SAME-PIXEL twin (identical pixels ⇒ identical profile at any
    * grid); integral-resize twins keep exact equality only when both
    * dimensions divide by the grid — otherwise the L1 gate absorbs
    * the cell-boundary drift (the documented approximate tier).
    */
  def autoGrid(n: Long, targetBucketSize: Int): Int = {
    val bits = Similarity.autoBits(n, targetBucketSize, 49)
    val g = (1 to 7).find(g => g * g >= bits).getOrElse(7)
    math.max(4, g)
  }

  /** [[pngPerceptualCandidates]] with the grid derived from the corpus
    * size via [[autoGrid]] — pass `knownCount` (e.g. a catalog-known
    * image population) to stay lazy, the
    * [[Similarity.nearDupesAnnAuto]] contract.
    */
  def pngPerceptualCandidatesAuto(media: DataFrame,
      targetBucketSize: Int = 16, maxBucketSize: Int = 64,
      thrPermille: Int = 10, knownCount: Option[Long] = None): DataFrame =
    pngPerceptualCandidates(media,
      autoGrid(sizeOf(media, knownCount), targetBucketSize),
      maxBucketSize, thrPermille)

  /** [[jpegPerceptualCandidates]] with the [[autoGrid]]-derived grid. */
  def jpegPerceptualCandidatesAuto(media: DataFrame,
      targetBucketSize: Int = 16, maxBucketSize: Int = 64,
      thrPermille: Int = 10, knownCount: Option[Long] = None): DataFrame =
    jpegPerceptualCandidates(media,
      autoGrid(sizeOf(media, knownCount), targetBucketSize),
      maxBucketSize, thrPermille)

  /** PIXEL-TRUE perceptual near-dup for BASELINE JPEG — the dominant
    * web image format's [[pngPerceptualCandidates]] (r13 verdict item
    * 2): the signature is the [[graft.plans.JpegBlockMeanExpr]]
    * grid×grid block-mean luminance profile over the DECODED Y plane
    * (marker walk → Huffman → dequant → IDCT), so a RE-ENCODED twin
    * (different quantization table, different Huffman tables, added
    * chroma planes, restart markers: not one shared compressed byte)
    * pairs at L1 = 0, and an integral nearest-neighbor RESIZED twin
    * pairs exactly too, while the byte-histogram tier misses both.
    * PROGRESSIVE (SOF2) payloads decode through the same kernel's
    * multi-scan path (q215); out-of-subset payloads (12-bit,
    * arithmetic, lossless) return null features and stay on the q186
    * histogram tier.
    *
    * Scale shape identical to the PNG tier: one decode pass inside
    * the scan, grid² longs on the wire, sign-bucket-keyed self-join
    * hot-capped, integer L1 gate (Long-safe: mean_e3 ≤ 255 000,
    * t ≤ 49·255 000 — bounded means, not unbounded sums).
    */
  def jpegPerceptualCandidates(media: DataFrame, grid: Int = 4,
      maxBucketSize: Int = 64, thrPermille: Int = 10): DataFrame =
    perceptualSelfPairs(signatureFrame(media,
      graft.plans.JpegBlockMeanExpr.jpeg_block_means(col("payload"), grid),
      grid), maxBucketSize, thrPermille)

  /** Synthesize [[jpegPayload]] JPEGs from a (media_id, base id,
    * nearest-neighbor scale, re-encode-variant flag) frame — the q208
    * fixture builder (the [[synthesizePng]] convention). The variant
    * flag flips EVERY compressed byte (different quantization and
    * Huffman tables, three components instead of one, restart
    * markers) around the identical decoded luma.
    */
  def synthesizeJpeg(df: DataFrame, idCol: String, baseCol: String,
      scaleCol: String, variantCol: String): DataFrame = {
    val gen = udf { (base: Long, scale: Int, variant: Boolean) =>
      jpegPayload(base, scale, variant) }
    df.select(col(idCol).cast("long").as("media_id"),
      gen(col(baseCol), col(scaleCol), col(variantCol)).as("payload"))
  }

  /** Deterministic baseline-JPEG payload — the q208 fixture: a 32×32
    * base image of DC-ONLY 8×8 blocks, block (bx,by) uniformly
    * dc(bx,by) = ((id·31 + bx·(7 + id mod 31) + by·(13 + id mod 29)
    * + bx·by·(11 + id mod 23)) mod 201) − 100, nearest-neighbor upscaled by `scale` (an upscaled
    * block grid replicates each source block, still DC-only). The id
    * rides the bx/by SLOPES, not just the offset (the q196/q203
    * anti-collapse lesson). DC-only means the decode is INTEGER-EXACT
    * from the construction: every pixel of the block is
    * 128 + (dc·q₀ + 4 >> 3), and both encodings below choose
    * (coefficient, q₀) with coefficient·q₀ = 8·dc, so the pixel is
    * 128 + dc exactly and the oracle replays block means with no
    * decoder ([[pngPayload]]'s template).
    *
    * `variant = false`: grayscale, q₀ = 8, coefficient = dc, one
    * DC/AC Huffman table pair. `variant = true`: three-component
    * YCbCr 4:4:4 (chroma coefficients all zero — gray pixels, same Y
    * plane), q₀ = 4 with coefficient = 2·dc, DIFFERENT Huffman code
    * lengths, an APP0 segment, and a restart interval of 2 MCUs —
    * same decoded luma, not one shared compressed byte.
    */
  private[graft] def jpegPayload(id: Long, scale: Int,
      variant: Boolean): Array[Byte] = {
    val nB = 4 * scale // blocks per side (base 32×32 = 4×4 blocks)
    val wh = nB * 8
    def dc(bx: Int, by: Int): Int = dcBlock(id, scale, bx, by)
    val out = new java.io.ByteArrayOutputStream()
    def b8(v: Int): Unit = out.write(v & 0xff)
    def b16(v: Int): Unit = { b8(v >> 8); b8(v) }
    def seg(marker: Int, payload: Int => Unit, lenOf: Int): Unit = {
      b8(0xff); b8(marker); b16(lenOf + 2); payload(0)
    }
    b8(0xff); b8(0xd8) // SOI
    if (variant) { // APP0/JFIF — bytes the base encoding doesn't have
      seg(0xe0, _ => {
        out.write("JFIF".getBytes("US-ASCII")); b8(0)
        b8(1); b8(1); b8(0); b16(1); b16(1); b8(0); b8(0)
      }, 14)
    }
    // DQT(s): zigzag order; only q[0] matters for DC-only blocks
    val q0 = if (variant) 4 else 8
    seg(0xdb, _ => { b8(0x00); b8(q0); (1 until 64).foreach(_ => b8(if (variant) 12 else 16)) }, 65)
    if (variant)
      seg(0xdb, _ => { b8(0x01); b8(8); (1 until 64).foreach(_ => b8(20)) }, 65)
    // SOF0
    val nComp = if (variant) 3 else 1
    seg(0xc0, _ => {
      b8(8); b16(wh); b16(wh); b8(nComp)
      b8(1); b8(0x11); b8(0) // Y, 1×1, qt 0
      if (variant) { b8(2); b8(0x11); b8(1); b8(3); b8(0x11); b8(1) }
    }, 6 + 3 * nComp)
    // DHT(s): canonical tables — 12 DC categories at one length
    // (base: length 4; variant: length 5 — different code assignment),
    // AC = the single EOB symbol (base: length 2; variant: length 3)
    val dcLen = if (variant) 5 else 4
    val acLen = if (variant) 3 else 2
    def dht(tc: Int, th: Int, lens: Seq[Int], syms: Seq[Int]): Unit =
      seg(0xc4, _ => {
        b8((tc << 4) | th)
        (1 to 16).foreach(l => b8(lens.count(_ == l)))
        syms.foreach(b8)
      }, 17 + syms.size)
    dht(0, 0, Seq.fill(12)(dcLen), 0 until 12)
    dht(1, 0, Seq(acLen), Seq(0x00))
    if (variant) { // chroma tables at the base lengths (still distinct ids)
      dht(0, 1, Seq.fill(12)(4), 0 until 12)
      dht(1, 1, Seq(2), Seq(0x00))
    }
    val dri = if (variant) 2 else 0
    if (dri > 0) seg(0xdd, _ => b16(dri), 2)
    // SOS
    seg(0xda, _ => {
      b8(nComp)
      b8(1); b8(0x00)
      if (variant) { b8(2); b8(0x11); b8(3); b8(0x11) }
      b8(0); b8(63); b8(0)
    }, 4 + 2 * nComp)
    // entropy-coded data: one DC diff + EOB per block, interleaved
    var acc = 0; var accBits = 0
    def putBits(v: Int, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) {
        acc = (acc << 1) | ((v >> i) & 1); accBits += 1
        if (accBits == 8) {
          out.write(acc & 0xff)
          if ((acc & 0xff) == 0xff) out.write(0x00) // byte stuffing
          acc = 0; accBits = 0
        }
        i -= 1
      }
    }
    def flushAlign(): Unit = if (accBits > 0) {
      putBits((1 << (8 - accBits)) - 1, 8 - accBits) // pad with 1s
    }
    def cat(v: Int): Int = 32 - Integer.numberOfLeadingZeros(math.abs(v))
    def putDcDiff(diff: Int, len: Int): Unit = {
      val t = if (diff == 0) 0 else cat(diff)
      putBits(t, len) // canonical: symbol s encodes as code s at `len`
      if (t > 0) putBits(if (diff >= 0) diff else diff + (1 << t) - 1, t)
    }
    var predY = 0
    var mcuCount = 0; var rst = 0
    for (by <- 0 until nB; bx <- 0 until nB) {
      if (dri > 0 && mcuCount == dri) {
        flushAlign(); b8(0xff); b8(0xd0 + rst)
        rst = (rst + 1) % 8; predY = 0; mcuCount = 0
      }
      val c = (if (variant) 2 else 1) * dc(bx, by)
      putDcDiff(c - predY, dcLen); predY = c
      putBits(0, acLen) // EOB (code 0 at acLen)
      if (variant) { // chroma: diff 0 (category 0, code 0 at len 4) + EOB
        putBits(0, 4); putBits(0, 2)
        putBits(0, 4); putBits(0, 2)
      }
      mcuCount += 1
    }
    flushAlign()
    b8(0xff); b8(0xd9) // EOI
    out.toByteArray
  }

  /** Synthesize JPEGs with a three-way mode column — the q215 fixture
    * builder: mode 0 = [[jpegPayload]] baseline grayscale, mode 1 =
    * its re-encoded baseline variant, mode 2 = the PROGRESSIVE (SOF2)
    * re-encode ([[jpegProgressivePayload]]).
    */
  def synthesizeJpegModes(df: DataFrame, idCol: String, baseCol: String,
      scaleCol: String, modeCol: String): DataFrame = {
    val gen = udf { (base: Long, scale: Int, mode: Int) =>
      if (mode == 2) jpegProgressivePayload(base, scale)
      else jpegPayload(base, scale, mode == 1) }
    df.select(col(idCol).cast("long").as("media_id"),
      gen(col(baseCol), col(scaleCol), col(modeCol)).as("payload"))
  }

  /** Deterministic PROGRESSIVE (SOF2) re-encode of [[jpegPayload]]'s
    * DC-only image — the q215 fixture: the identical luma plane
    * delivered across FIVE scans (DC first at Al = 1 with a 2-MCU
    * restart interval, DC refinement at Ah = 1, AC band 1–5 first at
    * Al = 1, AC band 1–5 refinement, AC band 6–63 — the AC scans are
    * pure EOB runs since the image is DC-only), with q₀ = 4 and
    * coefficient = 2·dc so every successive-approximation step is
    * integer-exact: the DC first scan carries coef >> 1 = dc exactly
    * (2·dc is even, so the arithmetic shift loses nothing), the
    * refinement bits are all zero, and the decoded pixel is
    * 128 + dc — the plane [[jpegPayload]] decodes to, with zero
    * shared entropy bytes and a different frame type, exercising the
    * spectral-selection bands, both successive-approximation
    * directions, EOB-run coding, restarts inside a progressive scan,
    * and inter-scan DRI/DHT segments.
    */
  private[graft] def jpegProgressivePayload(id: Long, scale: Int): Array[Byte] = {
    val nB = 4 * scale
    val wh = nB * 8
    def dcOf(bx: Int, by: Int): Int = dcBlock(id, scale, bx, by)
    val out = new java.io.ByteArrayOutputStream()
    def b8(v: Int): Unit = out.write(v & 0xff)
    def b16(v: Int): Unit = { b8(v >> 8); b8(v) }
    def seg(marker: Int, payload: Int => Unit, lenOf: Int): Unit = {
      b8(0xff); b8(marker); b16(lenOf + 2); payload(0)
    }
    b8(0xff); b8(0xd8) // SOI
    seg(0xdb, _ => { b8(0x00); b8(4); (1 until 64).foreach(_ => b8(12)) }, 65)
    seg(0xc2, _ => { b8(8); b16(wh); b16(wh); b8(1); b8(1); b8(0x11); b8(0) }, 9)
    // DC table: 12 categories at length 5 (yet another code assignment)
    seg(0xc4, _ => {
      b8(0x00); (1 to 16).foreach(l => b8(if (l == 5) 12 else 0))
      (0 until 12).foreach(b8)
    }, 17 + 12)
    var acc = 0; var accBits = 0
    def putBits(v: Int, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) {
        acc = (acc << 1) | ((v >> i) & 1); accBits += 1
        if (accBits == 8) {
          out.write(acc & 0xff)
          if ((acc & 0xff) == 0xff) out.write(0x00) // byte stuffing
          acc = 0; accBits = 0
        }
        i -= 1
      }
    }
    def flushAlign(): Unit = if (accBits > 0) {
      putBits((1 << (8 - accBits)) - 1, 8 - accBits) // pad with 1s
    }
    def cat(v: Int): Int = 32 - Integer.numberOfLeadingZeros(math.abs(v))
    def sos(ssV: Int, seV: Int, ahV: Int, alV: Int): Unit =
      seg(0xda, _ => {
        b8(1); b8(1); b8(0x00); b8(ssV); b8(seV); b8((ahV << 4) | alV)
      }, 6)
    // scan 1: DC first pass at Al = 1 — diffs of coef >> 1 = dc, with
    // a restart every 2 blocks (predictor resets, marker cycle)
    seg(0xdd, _ => b16(2), 2)
    sos(0, 0, 0, 1)
    var pred = 0; var mcuCount = 0; var rst = 0
    for (by <- 0 until nB; bx <- 0 until nB) {
      if (mcuCount == 2) {
        flushAlign(); b8(0xff); b8(0xd0 + rst)
        rst = (rst + 1) % 8; pred = 0; mcuCount = 0
      }
      val v = dcOf(bx, by)
      val diff = v - pred; pred = v
      val t = if (diff == 0) 0 else cat(diff)
      putBits(t, 5) // canonical: symbol s is code s at length 5
      if (t > 0) putBits(if (diff >= 0) diff else diff + (1 << t) - 1, t)
      mcuCount += 1
    }
    flushAlign()
    // scan 2: DC refinement (Ah = 1 → Al = 0) — one raw bit per block,
    // all zero (2·dc is even); restarts disabled between scans
    seg(0xdd, _ => b16(0), 2)
    sos(0, 0, 1, 0)
    (0 until nB * nB).foreach(_ => putBits(0, 1))
    flushAlign()
    // AC table: the eight EOB-run symbols (r << 4 | 0, r = 0..7) at
    // length 4 — canonical code of symbol r is r
    seg(0xc4, _ => {
      b8(0x10); (1 to 16).foreach(l => b8(if (l == 4) 8 else 0))
      (0 until 8).foreach(r => b8(r << 4))
    }, 17 + 8)
    def putEobRun(n0: Int): Unit = {
      var rem = n0
      while (rem > 0) {
        val r = math.min(7, 31 - Integer.numberOfLeadingZeros(rem))
        val run = math.min(rem, (1 << (r + 1)) - 1)
        putBits(r, 4)
        if (r > 0) putBits(run - (1 << r), r)
        rem -= run
      }
    }
    // scans 3–5: the AC bands as pure EOB runs (first pass at Al = 1,
    // its refinement, then the high band at Al = 0)
    sos(1, 5, 0, 1); putEobRun(nB * nB); flushAlign()
    sos(1, 5, 1, 0); putEobRun(nB * nB); flushAlign()
    sos(6, 63, 0, 0); putEobRun(nB * nB); flushAlign()
    b8(0xff); b8(0xd9) // EOI
    out.toByteArray
  }

  /** CROSS-FORMAT image perceptual near-dup — one pipeline over a
    * MIXED image corpus: the feature is
    * `coalesce(png_block_means, jpeg_block_means)`, so each payload is
    * decoded by the kernel that understands it (each returns null on
    * the other's format — content dispatch, no mime column needed) and
    * all profiles land in ONE sign-bucket space. The case this exists
    * for: the SAME image stored as a PNG by one system and re-encoded
    * as a baseline JPEG by another — the most common cross-format twin
    * in a crawl corpus, invisible to every byte/format-blocked tier.
    * For GRAYSCALE content the two kernels' luma models agree exactly
    * (PNG gray passes the pixel through; JPEG's Y IS the pixel), so a
    * lossless-JPEG-of-a-gray-PNG twin pairs at L1 = 0 (q212's planted
    * contract). For COLOR content, `bt601 = true` switches the PNG
    * side to the JPEG-encoder integer BT.601 luma so the color
    * cross-format twin is exact too (q216, r15 verdict item 6); with
    * the legacy default the two models differ by rounding and the L1
    * gate absorbs it (the previous documented approximate case).
    * `bt601` must be fixed per signature space — profiles from the
    * two luma models never compare (the fixed-grid store law applies
    * to the luma model as well).
    *
    * Scale shape identical to the single-format tiers; payloads
    * neither kernel decodes fall out at the null filter and stay on
    * the byte-histogram tier.
    */
  def imagePerceptualCandidates(media: DataFrame, grid: Int = 4,
      maxBucketSize: Int = 64, thrPermille: Int = 10,
      bt601: Boolean = false): DataFrame =
    perceptualSelfPairs(imageSignatures(media, grid, bt601),
      maxBucketSize, thrPermille)

  /** [[imagePerceptualCandidates]] with the [[autoGrid]]-derived grid
    * — the cross-format tier is exactly the crawl-scale surface whose
    * fixed grid 4 saturates past ~10M images (the q211 analysis), so
    * it gets the auto variant like its single-format siblings.
    */
  def imagePerceptualCandidatesAuto(media: DataFrame,
      targetBucketSize: Int = 16, maxBucketSize: Int = 64,
      thrPermille: Int = 10, knownCount: Option[Long] = None,
      bt601: Boolean = false): DataFrame =
    imagePerceptualCandidates(media,
      autoGrid(sizeOf(media, knownCount), targetBucketSize),
      maxBucketSize, thrPermille, bt601)

  /** The cross-format image SIGNATURE frame — one row per decodable
    * image: `(id, __key, __f, __t)` with the coalesced png/jpeg
    * block-mean profile, its total, and the sign-bucket key. Shared
    * by [[imagePerceptualCandidates]] (self-join) and the incremental
    * [[imageCrossPairs]] (catalog×delta): both derive candidates from
    * the SAME feature definition, so full and incremental image dedup
    * stay one pipeline (the winnow-store convention).
    */
  def imageSignatures(media: DataFrame, grid: Int = 4,
      bt601: Boolean = false): DataFrame =
    // each kernel nulls on a foreign format (content dispatch), so
    // appending the GIF arm (r15) leaves every PNG/JPEG signature —
    // and every existing store — bit-identical; GIF payloads, which
    // previously fell out as undecodable, now join the same space
    signatureFrame(media, coalesce(
      graft.plans.PngBlockMeanExpr.png_block_means(col("payload"), grid, bt601),
      graft.plans.JpegBlockMeanExpr.jpeg_block_means(col("payload"), grid),
      graft.plans.GifBlockMeanExpr.gif_block_means(col("payload"), grid, bt601)),
      grid)

  /** Catalog×delta cross-format image pairs — the INCREMENTAL form of
    * [[imagePerceptualCandidates]] (the [[graft.operators.TextOps.winnowedCrossPairs]]
    * contract): the hot-bucket population is summed across BOTH sides
    * (catalog ids are disjoint from delta ids, so counts add), making
    * the cross-pair output exactly the full recompute over
    * catalog ∪ delta restricted to (catalog, delta) pairs. Only keys
    * PRESENT in the delta can pair, so probe cost tracks delta size
    * regardless of catalog size — with a bucketed signature store the
    * catalog side joins without an exchange.
    *
    * Redelivery guard: an id present on BOTH sides (an at-least-once
    * source re-sending an already-admitted image) never emits the
    * degenerate self-pair — `id1 ≠ id2` is enforced on the output.
    * Its double-counted bucket contribution toward the cap is the
    * tolerated at-least-once dead weight (the flat digest stores'
    * convention); the layered store's idempotent wave replace bounds
    * it to one extra copy per redelivered wave.
    */
  def imageCrossPairs(catalogSigs: DataFrame, deltaSigs: DataFrame,
      maxBucketSize: Int = 64, thrPermille: Int = 10): DataFrame = {
    val cat = catalogSigs.select(col("id"), col("__key"), col("__f"), col("__t"))
    val dlt = deltaSigs.select(col("id"), col("__key"), col("__f"), col("__t"))
    val dCnt = dlt.groupBy("__key").agg(count(lit(1)).as("__dn"))
    val cCnt = cat.groupBy("__key").agg(count(lit(1)).as("__cn"))
    val keep = dCnt.join(cCnt, Seq("__key"), "left")
      .filter(col("__dn") + coalesce(col("__cn"), lit(0L)) <= maxBucketSize)
      .select("__key")
    cat.select(col("__key"), col("id").as("id1"),
        col("__f").as("f1"), col("__t").as("t1"))
      .join(keep, "__key")
      .join(dlt.select(col("__key"), col("id").as("id2"),
        col("__f").as("f2"), col("__t").as("t2")), "__key")
      .filter(col("id1") =!= col("id2"))
      .withColumn("l1", expr(
        "aggregate(zip_with(f1, f2, (x, y) -> abs(x * t2 - y * t1)), 0L, (acc, v) -> acc + v)"))
      .filter(col("l1") * 1000 <=
        lit(thrPermille.toLong) * col("t1") * col("t2"))
      .select("id1", "id2", "l1")
  }

  /** MEDIA DATA CARD — the media-corpus member of the data-card family
    * ([[Profiling.dataCard]] for text, [[TextOps.domainCard]] per
    * host, [[Profiling.dpDataCard]] for private release): a per-FORMAT
    * census of a media table with the ROLLUP total, the audit a
    * multimodal pipeline reads before deciding which decode tiers to
    * run. Per container format (from the [[graft.plans.MediaHeaderExpr]]
    * walk — 'png'/'jpeg'/'wav'/'gif'/'unknown') and `__all__`:
    *
    *  - `n_media` — payload count;
    *  - `px_decodable` — payloads the PIXEL tier can fully decode
    *    (the coalesced png/jpeg/gif block-mean kernel at grid 1
    *    returns non-null: real entropy data, not just a parseable
    *    header — the gap between this and `n_media` is the
    *    header-only tail that stays on the byte-histogram tier);
    *  - `with_dims` / integer `mean_w`, `mean_h` (null when no
    *    payload in the group carries dimensions);
    *  - `audio_frames` — summed per-payload frame counts: WAV audio
    *    frames AND (r15) GIF animation frames — per-format rows keep
    *    the two apart; the `__all__` row mixes them by construction
    *    (column name kept for the q214 contract).
    *
    * Scale shape: one decode pass inside the scan (header walk + the
    * grid-1 probe), then ONE ROLLUP aggregate — the [[Profiling.dataCard]]
    * plan with media kernels as the per-row stage. The total row is
    * tagged via `grouping()` (never null-detection).
    */
  def mediaCard(media: DataFrame): DataFrame = {
    val agg = media
      .withColumn("__hdr",
        graft.plans.MediaHeaderExpr.media_header(col("payload")))
      .withColumn("__fmt", col("__hdr.fmt"))
      .withColumn("__w", col("__hdr.width"))
      .withColumn("__h", col("__hdr.height"))
      .withColumn("__fr", col("__hdr.n_frames"))
      .withColumn("__px", coalesce(
        graft.plans.PngBlockMeanExpr.png_block_means(col("payload"), 1),
        graft.plans.JpegBlockMeanExpr.jpeg_block_means(col("payload"), 1),
        graft.plans.GifBlockMeanExpr.gif_block_means(col("payload"), 1)))
      .rollup("__fmt")
      .agg(count(lit(1)).as("n_media"),
        sum(when(col("__px").isNotNull, 1L).otherwise(0L)).as("px_decodable"),
        sum(when(col("__w").isNotNull, 1L).otherwise(0L)).as("with_dims"),
        sum(coalesce(col("__w"), lit(0L))).as("__sw"),
        sum(coalesce(col("__h"), lit(0L))).as("__sh"),
        sum(coalesce(col("__fr"), lit(0L))).as("audio_frames"),
        grouping(col("__fmt")).as("__total"))
    agg.select(
      when(col("__total") === 1, lit("__all__"))
        .otherwise(coalesce(agg("__fmt"), lit("__null__"))).as("scope"),
      col("n_media"), col("px_decodable"), col("with_dims"),
      when(col("with_dims") > 0, expr("__sw div with_dims")).as("mean_w"),
      when(col("with_dims") > 0, expr("__sh div with_dims")).as("mean_h"),
      col("audio_frames"))
  }

  /** Deterministic GRAYSCALE PNG carrying the [[jpegPayload]] DC block
    * pattern — the q212 cross-format fixture: a 32·scale-square
    * color-type-0 PNG whose pixel (x, y) is 128 + dc(x/8s, y/8s) with
    * [[jpegPayload]]'s dc formula, so its decoded luma profile is
    * BYTE-IDENTICAL to the corresponding JPEG's (PNG gray passes the
    * pixel through; JPEG Y is the pixel) while the two payloads share
    * no container structure at all.
    */
  private[graft] def pngGrayPayload(id: Long, scale: Int): Array[Byte] = {
    val wh = 32 * scale
    def dc(bx: Int, by: Int): Int = dcBlock(id, scale, bx, by)
    val raw = new Array[Byte](wh * (1 + wh))
    for (y <- 0 until wh) {
      val rs = y * (1 + wh)
      raw(rs) = 0 // filter: None
      for (x <- 0 until wh)
        raw(rs + 1 + x) = (128 + dc(x / 8, y / 8)).toByte
    }
    pngContainer(raw, wh, wh, colorType = 0, deflateLevel = 1,
      splitIdat = false)
  }

  /** Synthesize a MIXED-format media frame for the cross-format tier:
    * `fmt = false` → baseline JPEG ([[jpegPayload]], non-variant),
    * `fmt = true` → grayscale PNG ([[pngGrayPayload]]) of the SAME
    * pixel pattern.
    */
  def synthesizeMixedImages(df: DataFrame, idCol: String, baseCol: String,
      scaleCol: String, fmtCol: String): DataFrame = {
    val gen = udf { (base: Long, scale: Int, png: Boolean) =>
      if (png) pngGrayPayload(base, scale) else jpegPayload(base, scale, variant = false) }
    df.select(col(idCol).cast("long").as("media_id"),
      gen(col(baseCol), col(scaleCol), col(fmtCol)).as("payload"))
  }

  /** THREE-format fixture synthesis for the cross-format triangle
    * (q222): `fmtCol` is a string — "png" | "jpeg" | "gif" |
    * "gif_i" (interlaced GIF) — all four carrying the SAME dcBlock
    * pixel construction, so every pair of arms of one base is an
    * exact content twin. */
  def synthesizeImageFormats(df: DataFrame, idCol: String, baseCol: String,
      scaleCol: String, fmtCol: String): DataFrame = {
    val gen = udf { (base: Long, scale: Int, fmt: String) =>
      fmt match {
        case "png"   => pngGrayPayload(base, scale)
        case "jpeg"  => jpegPayload(base, scale, variant = false)
        case "gif"   => gifGrayPayload(base, scale, interlaced = false)
        case "gif_i" => gifGrayPayload(base, scale, interlaced = true)
        case _       => null
      } }
    df.select(col(idCol).cast("long").as("media_id"),
      gen(col(baseCol), col(scaleCol), col(fmtCol)).as("payload"))
  }

  /** Deterministic GIF89a twin of [[pngGrayPayload]]: the SAME dcBlock
    * pixel family behind a 256-entry GRAY-RAMP palette (index i →
    * (i, i, i) — both luma models pass r=g=b through, so the GIF's
    * block means equal the PNG gray twin's exactly). The LZW stream
    * uses the CLEAR-early literal encoding: after a CLEAR, every pixel
    * emits as its 9-bit root code and a fresh CLEAR lands before the
    * decoder's dictionary would push the code width past 9 — a fully
    * valid stream any decoder accepts, trivially writable, and it
    * exercises the decoder's post-CLEAR reset path every ~250 codes.
    * `interlaced = true` writes rows in 4-pass interlace order with
    * the flag set: decoded pixels are identical, so the interlaced
    * twin pairs at L1 = 0 (the GIF analog of PNG's re-encode twin).
    */
  private[graft] def gifGrayPayload(id: Long, scale: Int,
      interlaced: Boolean): Array[Byte] =
    gifContainer(id, scale, interlaced, frames = 1)

  /** Animated GIF fixture: `frames` identical full-screen image blocks
    * (a valid static animation). The pixel tier decodes frame 1 only
    * (GifBlockMeanExpr scope note); the HEADER tier reports the frame
    * count from the descriptor walk — the q224 contract. */
  private[graft] def gifAnimatedPayload(id: Long, scale: Int,
      frames: Int): Array[Byte] =
    gifContainer(id, scale, interlaced = false, frames = frames)

  private def gifContainer(id: Long, scale: Int, interlaced: Boolean,
      frames: Int): Array[Byte] = {
    val wh = 32 * scale
    def dc(bx: Int, by: Int): Int = dcBlock(id, scale, bx, by)
    val out = new java.io.ByteArrayOutputStream()
    def b8(v: Int): Unit = out.write(v & 0xff)
    def le16(v: Int): Unit = { b8(v); b8(v >> 8) }
    out.write("GIF89a".getBytes("US-ASCII"))
    le16(wh); le16(wh)
    b8(0x80 | 7) // GCT present, 2^8 entries
    b8(0); b8(0) // bg index, aspect
    var i = 0
    while (i < 256) { b8(i); b8(i); b8(i); i += 1 } // gray ramp
    var f = 0
    while (f < frames) {
      b8(0x2c); le16(0); le16(0); le16(wh); le16(wh)
      b8(if (interlaced) 0x40 else 0)
      b8(8) // LZW min code size
      val clear = 256; val eoi = 257
      val bits = new java.io.ByteArrayOutputStream()
      var acc = 0L; var nb = 0
      def put(code: Int): Unit = {
        acc |= (code.toLong & 0x1ff) << nb; nb += 9
        while (nb >= 8) { bits.write((acc & 0xff).toInt); acc >>= 8; nb -= 8 }
      }
      val rows = if (!interlaced) (0 until wh).toArray else {
        val r = new Array[Int](wh); var n = 0
        var y = 0; while (y < wh) { r(n) = y; n += 1; y += 8 }
        y = 4; while (y < wh) { r(n) = y; n += 1; y += 8 }
        y = 2; while (y < wh) { r(n) = y; n += 1; y += 4 }
        y = 1; while (y < wh) { r(n) = y; n += 1; y += 2 }
        r
      }
      put(clear)
      var sinceClear = 0
      rows.foreach { y =>
        var x = 0
        while (x < wh) {
          if (sinceClear == 250) { put(clear); sinceClear = 0 }
          put(128 + dc(x / 8, y / 8))
          sinceClear += 1
          x += 1
        }
      }
      put(eoi)
      if (nb > 0) bits.write((acc & 0xff).toInt)
      val lz = bits.toByteArray
      var off = 0
      while (off < lz.length) {
        val n = math.min(255, lz.length - off)
        b8(n); out.write(lz, off, n); off += n
      }
      b8(0) // data terminator
      f += 1
    }
    b8(0x3b) // trailer
    out.toByteArray
  }

  /** The shared perceptual pipeline; `blockCol` prepends a blocking
    * key to the sign-bucket join key (empty string = unblocked, the
    * historical q126 behavior — same groups, same output). */
  /** The grouped candidate stage shared by every signature tier
    * (r15, the pairCounts discipline with payload-carrying members):
    * input `(id, __key, __v, __t)`, output
    * `(id1, id2, v1, v2, t1, t2)` for every same-key pair with
    * id1 < id2 from buckets of 2..`maxBucketSize` members. One
    * collect_set per bucket replaces the repartition + hot-cap
    * anti-join + keyed self-join: the set size IS the old bucket
    * count (ids are unique per bucket — one key per media), the
    * member structs sort by id (ids distinct, so struct order ≡ id
    * order), and the group-local expansion is the exact pair stream
    * the a.__key = b.__key AND a.id < b.id join produced. Member
    * payloads are bounded (≤ 64 members × a ≤ 63-long vector), so
    * the sortedPairs materialization caveat is satisfied.
    */
  private def groupedSignaturePairs(sigs: DataFrame,
      maxBucketSize: Int): DataFrame =
    sigs.groupBy("__key")
      // hot-key guard (r16): bounded collector — a degenerate sign
      // bucket over the cap NULLs out instead of materializing every
      // member's payload vector in one aggregation buffer (§2.5/§5)
      .agg(sort_array(graft.plans.BoundedCollectSetAgg.bounded_collect_set(
        struct(col("id"), col("__v"), col("__t")), maxBucketSize)).as("__mem"))
      .filter(size(col("__mem")).between(2, maxBucketSize))
      .select(explode(graft.operators.Dedup.sortedPairs("__mem")).as("__p"))
      .select(col("__p.a.id").as("id1"), col("__p.b.id").as("id2"),
        col("__p.a.__v").as("v1"), col("__p.b.__v").as("v2"),
        col("__p.a.__t").as("t1"), col("__p.b.__t").as("t2"))

  private def perceptualCore(media: DataFrame, dim: Int,
      maxBucketSize: Int, thrPermille: Int, blockCol: Column): DataFrame = {
    require(dim >= 1 && dim <= 63, "dim must fit the sign-bucket bit range")
    val withKey = decodeStub(media, dim)
      .withColumn("__n", greatest(col("meta.n_bytes"), lit(1L)))
      .withColumn("__counts",
        expr("transform(features, f -> CAST(round(f * __n) AS BIGINT))"))
      .withColumn("__key", concat_ws("|", blockCol,
        graft.plans.SignBucketExpr.sign_bucket(
          expr(s"transform(__counts, c -> CAST(c * $dim - __n AS DOUBLE))"), dim)
          .cast("string")))
      .select(col("media_id").as("id"), col("__key"),
        col("__counts").as("__v"), col("__n").as("__t"))
    groupedSignaturePairs(withKey, maxBucketSize)
      .withColumn("l1", expr(
        "aggregate(zip_with(v1, v2, (x, y) -> abs(x * t2 - y * t1)), 0L, (acc, v) -> acc + v)"))
      .filter(col("l1") * 1000 <= lit(thrPermille.toLong) * col("t1") * col("t2"))
      .select("id1", "id2", "l1")
  }

  /** Video-level near-dup candidates by FRAME-DIGEST containment —
    * the sequence-aware tier above [[perceptualNearDupCandidates]]:
    * a clipped or re-muxed copy shares most of its frame windows with
    * the original even when whole-payload signatures differ.
    *
    * Pipeline (integer-exact; the q134 oracle replays it):
    *  1. payload → fixed-`frameBytes` windows, md5 per window (the
    *     md5/substring work rides INSIDE the frame transform — one
    *     linear pass per payload, Σ|payload| total, no decode);
    *     frame count = ⌈n_bytes / frameBytes⌉ as pure integer
    *     arithmetic (no float ceil to diverge across engines);
    *  2. distinct (video, frame-digest) pairs — a frame repeated
    *     within one video counts once;
    *  3. absolute df cap on frame digests (the q96 convention: a
    *     frame shared by > `maxFrameDf` videos is title-card/black-
    *     frame boilerplate, and capping it bounds every join group);
    *  4. digest equi-join pairs + containment gate
    *     shared·1000 ≥ thrPermille·min(n1, n2) — cross-multiplied,
    *     exact.
    *
    * Scale shape: only 16-byte digests shuffle (payloads never leave
    * their scan), groups are df-capped, and the per-video frame count
    * aggregate is vocab-of-videos-sized.
    */
  def frameNearDupCandidates(media: DataFrame, frameBytes: Int = 16,
      maxFrameDf: Int = 64, thrPermille: Int = 500): DataFrame = {
    require(frameBytes >= 1 && maxFrameDf >= 2)
    // frame digests materialized once (lazy localCheckpoint before
    // the distinct — exchange-free projection, so no construction
    // job): nf and the per-digest set aggregate both reference this
    // frame, and each reference re-ran the per-frame md5 HOF over
    // every payload (guide §3.3); the identical distinct exchanges
    // above the checkpoint collapse via runtime reuse
    val framesRaw = media
      .select(col("media_id").as("id"),
        explode(expr(
          s"""transform(
             |  sequence(0, CAST(greatest((coalesce(meta.n_bytes, 0) + ${frameBytes - 1}) div $frameBytes, 1) AS INT) - 1),
             |  f -> md5(substring(payload, f * $frameBytes + 1, $frameBytes)))""".stripMargin))
          .as("fd"))
      .localCheckpoint(false)
    val frames = framesRaw.distinct()
    val nf = frames.groupBy("id").agg(count(lit(1)).as("n"))
    // per-digest member-SET aggregation instead of the df-cap join +
    // digest self-join (r15): the set is df-capped at `maxFrameDf`
    // (64 default), its size IS the old df count, and expanding the
    // sorted pairs group-locally is the exact pair multiset the
    // x.fd = y.fd AND x.id < y.id join streamed — one hash exchange
    // where the old shape paid the cap join plus two sorted legs.
    // the pair leg feeds the PRE-distinct frame: the bounded set
    // collector dedups (fd, id) internally (its overflow triggers on
    // DISTINCT membership), so the standalone distinct exchange the
    // optimizer elides for builtin collect_set (RemoveRedundantAggregates
    // whitelists CollectSet by class, unreachable for a custom
    // aggregate) is elided by hand here — one ObjectHashAggregate pass
    // instead of distinct's HashAggregate + Exchange + HashAggregate
    // feeding it (r16 plan diff: 12 → 10 Exchanges on q134)
    graft.operators.Dedup.pairCounts(framesRaw, Seq("fd"), "id", maxFrameDf)
      .withColumnsRenamed(Map("a" -> "id1", "b" -> "id2"))
      .join(nf.select(col("id").as("id1"), col("n").as("__n1")), "id1")
      .join(nf.select(col("id").as("id2"), col("n").as("__n2")), "id2")
      .filter(col("n_shared") * 1000 >= lit(thrPermille.toLong) * least(col("__n1"), col("__n2")))
      .select("id1", "id2", "n_shared")
  }

  /** Frame sampling stub for video-like payloads: every `stride`-th
    * byte window becomes one "frame" row (posexplode keeps lineage to
    * the source media row).
    */
  def sampleFrames(media: DataFrame, frameBytes: Int = 16, stride: Int = 4): DataFrame =
    media
      .withColumn("n_frames",
        greatest(lit(1), (col("meta.n_bytes") / lit(frameBytes * stride)).cast("int")))
      .select(col("media_id"), col("meta"),
        posexplode(sequence(lit(0), col("n_frames") - 1)).as(Seq("frame_idx", "frame_no")))
      .select(col("media_id"), col("frame_idx"),
        substring(base64(lit("frame")), 0, 8).as("frame_ref"), col("meta.mime").as("mime"))
}
