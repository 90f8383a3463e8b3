package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.TableIO.table

/** Multimodal-column plumbing: media payloads are opaque `binary` columns
  * with typed metadata travelling alongside. The image DECODE step is REAL
  * — `javax.imageio` PNG decode over deterministically synthesized PNG
  * payloads (the fixture generator knows each raster exactly, so expected
  * dims/luma are closed-form and the DuckDB oracle hash-checks the decoded
  * values) — and runs partition-parallel with zero shuffle, exactly where
  * the bytes are. The catalog/dedup passes use `documents.text` cast to
  * binary as the payload stand-in; at 100 TB real payloads live in the
  * same parquet layout (binary column + typed metadata).
  */
object MultimodalQueries {

  // ImageIO's default ImageInputStream cache backs every read with a
  // synchronized temp FILE — under partition-parallel decode the tasks
  // serialize on temp-file creation/deletion (measured as multi-second
  // pass-to-pass variance on the video-frame gate once the payload
  // fixtures were sharded). Payloads here are in-memory byte arrays;
  // the memory-backed stream is strictly better. JVM-global, set where
  // the decode closures load (this object initializes on executors).
  javax.imageio.ImageIO.setUseCache(false)

  /** Binary metadata extraction: byte length, SHA-256 content address,
    * magic-byte sniff — the catalog/integrity pass every media pipeline
    * runs before decode. Pure built-ins, fully pushdown/codegen friendly. */
  def mmBinaryMeta(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .withColumn("payload", col("text").cast(BinaryType))
      .select(
        col("doc_id"),
        octet_length(col("payload")).as("n_bytes"),
        sha2(col("payload"), 256).as("sha256"),
        substring(base64(col("payload")), 1, 12).as("head_b64"))

  /** Content-addressed media dedup: group payloads by their SHA-256,
    * elect the minimum doc_id as the canonical copy, and report the bytes
    * the duplicate copies waste — media corpora routinely shrink double-
    * digit percent from this pass alone (mirrored thumbnails, reposts).
    * Same single-shuffle map-side-combining shape as text dedupExact, on
    * a 256-bit key. */
  def mmDedup(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .withColumn("payload", col("text").cast(BinaryType))
      .select(col("doc_id"), sha2(col("payload"), 256).as("sha256"),
        octet_length(col("payload")).cast(LongType).as("n_bytes"))
      .groupBy(col("sha256"))
      .agg(count(lit(1)).as("n_copies"),
        min(col("doc_id")).as("canonical_doc_id"),
        max(col("n_bytes")).as("n_bytes"))
      .withColumn("dup_bytes", (col("n_copies") - 1) * col("n_bytes"))

  // -------------------------------------------------------------------
  // Real image decode (javax.imageio PNG)
  // -------------------------------------------------------------------

  /** Deterministic PNG payload for `doc_id`: a two-tone raster (left half
    * tone `a = id % 256`, right half `b = (id*7 + 31) % 256`) at
    * `w = 8 + 2*(id % 150)` × `h = 8 + (id % 300)`, grayscale for even
    * ids and RGB (r = g = b) for odd — so decoded width/height/channels
    * and mean luma are CLOSED-FORM in doc_id: the width is even, each
    * tone fills exactly w/2 columns, and mean luma = (a + b) / 2, exactly
    * representable and produced by one IEEE division of exact integers.
    * The dimensional range (8..307) straddles the resize gate's 256 box. */
  private def encodePng(id: Long): Array[Byte] = {
    import java.awt.image.BufferedImage
    val w = 8 + 2 * (id % 150).toInt
    val h = 8 + (id % 300).toInt
    val gray = id % 2 == 0
    val img = new BufferedImage(w, h,
      if (gray) BufferedImage.TYPE_BYTE_GRAY else BufferedImage.TYPE_3BYTE_BGR)
    val a = (id % 256).toInt
    val b = ((id * 7 + 31) % 256).toInt
    val raster = img.getRaster
    val bands = if (gray) 1 else 3
    var x = 0
    while (x < w) {
      val v = if (x < w / 2) a else b
      var y = 0
      while (y < h) {
        var k = 0
        while (k < bands) { raster.setSample(x, y, k, v); k += 1 }
        y += 1
      }
      x += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Real PNG decode: container parse + full pixel read. Mean luma sums
    * every sample as an exact integer and divides ONCE, so the value is
    * bit-identical to the fixture's closed form ((a+b)/2 — exact in
    * IEEE). */
  private def decodePng(payload: Array[Byte]): (Int, Int, Int, Double) =
    decodedFeatures(javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(payload)))

  private def decodedFeatures(
      img: java.awt.image.BufferedImage): (Int, Int, Int, Double) = {
    val w = img.getWidth
    val h = img.getHeight
    val c = img.getColorModel.getNumComponents
    val raster = img.getRaster
    var sum = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        var k = 0
        while (k < c) { sum += raster.getSample(x, y, k); k += 1 }
        x += 1
      }
      y += 1
    }
    (w, h, c, sum.toDouble / (w.toLong * h * c).toDouble)
  }

  /** Shared media-fixture builder: one binary payload per document,
    * encoded DISTRIBUTED (mapPartitions, no driver bytes) once per
    * (name, sf dir) and consumed read-only — in production the media
    * parquet exists once and every consumer reads it. All per-doc media
    * fixtures (PNG, WAV, video container) go through here; the near-dup
    * fixture has its own builder (it emits variant twins under img_id). */
  /** Doc-id frame for a media-fixture build, SHARDED to the session's
    * parallelism: the sf-dir documents table is one file, so without the
    * repartition every fixture lands as ONE parquet file and every
    * downstream real-decode pass (mapPartitions over the scan — the
    * zero-shuffle F1 contract) runs on a single core. A production media
    * table arrives sharded by its writers (guide §6: output file sizing
    * IS downstream scan parallelism); the fixture mirrors that shape.
    * Locally that is `defaultParallelism` small files; at scale the same
    * table is written by however many tasks produced it — the decode
    * gates themselves stay shuffle-free either way. */
  private def fixtureIds(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents").select(col("doc_id"))
      .repartition(s.sparkContext.defaultParallelism)

  /** Fixture ids sharded by ESTIMATED OUTPUT BYTES (guide §6 — small
    * files hurt twice: driver listing and per-file open): the byte-bound
    * fixtures (PCM audio: decode is a linear byte read, not pixel work)
    * take a production table layout — `targetBytes` per file, capped at
    * the session's parallelism — instead of raw defaultParallelism,
    * which left the sub-second audio gates paying 32 footer opens for
    * <1 MB of data (the one code-correlated regression of r19). The
    * pixel-decode fixtures keep [[fixtureIds]]' compute-parallel
    * sharding: their gates are decode-bound, not open-bound, and the
    * parallel decode is the r19 16× win. `bytesOf(doc_id)` estimates the
    * TOTAL bytes the builder emits for that document (closed-form for
    * every synthesized waveform; layout sizing needs no exactness). */
  private def fixtureIdsSizedBy(s: SparkSession, dir: String,
                                bytesOf: Long => Long,
                                targetBytes: Long = 4L << 20): DataFrame = {
    val ids = table(s, dir, "documents").select(col("doc_id"))
    val total = ids.rdd.map(r => bytesOf(r.getLong(0))).fold(0L)(_ + _)
    val parts = math.max(1L, math.min(
      s.sparkContext.defaultParallelism.toLong,
      (total + targetBytes - 1) / targetBytes)).toInt
    ids.repartition(parts)
  }

  /** Estimated RIFF size of [[audioParams]]' waveform (header + 16-bit
    * PCM frames; tag/info variants differ by tens of bytes). */
  private def wavBytesOf(id: Long): Long = {
    val (n, _, _, _, c) = audioParams(id)
    wavBytes(n, c)
  }

  /** Byte length of a canonical RIFF file (44-byte header) holding `n`
    * 16-bit PCM frames of `c` channels. */
  private def wavBytes(n: Int, c: Int): Long = 44L + 2L * n * c

  /** A little-endian buffer of [[wavBytes]]`(n, c)` + `info` bytes
    * holding the canonical RIFF header (8 kHz, 16-bit PCM) with `info`
    * between the `fmt ` and `data` chunks, positioned at the first
    * sample: the encoder then puts exactly n·c samples. */
  private def pcmWav(n: Int, c: Int,
      info: Array[Byte] = Array.emptyByteArray): java.nio.ByteBuffer = {
    val sr = 8000
    val dataLen = n * c * 2
    java.nio.ByteBuffer.allocate(wavBytes(n, c).toInt + info.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .put("RIFF".getBytes("US-ASCII")).putInt(36 + info.length + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(c.toShort).putInt(sr)
      .putInt(sr * c * 2).putShort((c * 2).toShort).putShort(16)
      .put(info)
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
  }

  /** One payload per document, (doc_id, payload) — see [[payloadRows]]. */
  private def payloadFixture(s: SparkSession, dir: String, name: String,
                             sizedBy: Option[Long => Long] = None)
                            (encode: Long => Array[Byte]): String =
    payloadRows(s, dir, name, "doc_id", sizedBy)(id => Seq(id -> encode(id)))

  /** (`idCol`, payload) fixture table, encoded distributed once per sf
    * dir: `rows(doc_id)` emits the document's (id, payload) rows. */
  private def payloadRows(s: SparkSession, dir: String, name: String,
                          idCol: String, sizedBy: Option[Long => Long] = None)
                         (rows: Long => Seq[(Long, Array[Byte])]): String = {
    val root = graft.sources.ScratchDirs.memoized(name, dir) { r =>
      val ids = sizedBy.fold(fixtureIds(s, dir))(fixtureIdsSizedBy(s, dir, _))
      s.createDataFrame(ids.rdd.mapPartitions(_.flatMap(row =>
          rows(row.getLong(0)).map { case (id, payload) => Row(id, payload) })),
        StructType(Seq(
          StructField(idCol, LongType),
          StructField("payload", BinaryType))))
        .write.parquet(s"$r/data")
    }
    s"$root/data"
  }

  /** PNG payload table (doc_id, payload BINARY). */
  private[operators] def pngFixture(s: SparkSession, dir: String): String =
    payloadFixture(s, dir, "mm_png_fix")(encodePng)

  private val featureSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("channels", IntegerType),
    StructField("mean_luma", DoubleType)))

  /** Partition-parallel REAL decode/feature-extract over binary PNG
    * payloads — the reference's mapPartitions shape
    * (mls_listings_transform.py:419-481, 534-543: RDD mapPartitions +
    * createDataFrame with explicit schema), with `javax.imageio` doing
    * genuine container+pixel decode. No shuffle: decode runs where the
    * bytes are, and the oracle hash-checks the decoded dims/channels/luma
    * against the fixture generator's closed forms — a wrong decode (or a
    * fake one) mismatches immediately. */
  def mmDecodeFeatures(s: SparkSession, dir: String): DataFrame = {
    val src = graft.sources.TableIO.readStatic(s, pngFixture(s, dir))
    val rows = src.rdd.mapPartitions(_.map { r =>
      val (w, h, c, luma) = decodePng(r.getAs[Array[Byte]]("payload"))
      Row(r.getAs[Long]("doc_id"), w, h, c, luma)
    })
    s.createDataFrame(rows, featureSchema)
  }

  /** Frame sampling over a binary payload: N frames at evenly-strided byte
    * offsets, each a fixed-size window content-addressed by SHA-256 — the
    * sampling pass a video pipeline runs to thumbnail or fingerprint
    * media without full decode. The JDK ships no video codec, so THIS
    * gate (alone) keeps a byte-window stand-in for the keyframe seek; the
    * plan is exactly what a real sampler needs: posexplode fans each
    * payload into frame rows IN PLACE (zero shuffle, codegen'd
    * `substring` on binary — composition of built-ins, no mapPartitions
    * required), and frames carry (doc_id, frame_idx) identity for
    * downstream per-frame operators. */
  def mmFrameSample(s: SparkSession, dir: String, nFrames: Int = 4,
                    window: Int = 16): DataFrame =
    table(s, dir, "documents")
      .select(col("doc_id"), col("text").cast(BinaryType).as("payload"))
      .withColumn("n_bytes", octet_length(col("payload")))
      .select(col("doc_id"), col("n_bytes"), col("payload"),
        posexplode(expr(s"sequence(0, ${nFrames - 1})")).as(Seq("_p", "frame_idx")))
      .withColumn("offset", expr(s"(frame_idx * n_bytes) div $nFrames"))
      .withColumn("frame", expr(s"substring(payload, offset + 1, $window)"))
      .select(col("doc_id"), col("frame_idx").cast(IntegerType).as("frame_idx"),
        col("offset").cast(IntegerType).as("offset"),
        octet_length(col("frame")).as("frame_bytes"),
        sha2(col("frame"), 256).as("frame_sha"))

  /** Exact-integer AREA-AVERAGE downscale: output sample (x, y, k) is the
    * FLOOR mean of the input box [⌊x·w/w2⌋, ⌊(x+1)·w/w2⌋) ×
    * [⌊y·h/h2⌋, ⌊(y+1)·h/h2⌋) — no interpolation and no floating point,
    * so every output pixel is reproducible by any engine in integer
    * arithmetic (the property the DuckDB oracle exploits). */
  private def areaAverageResize(img: java.awt.image.BufferedImage,
                                w2: Int, h2: Int): java.awt.image.BufferedImage = {
    import java.awt.image.BufferedImage
    val (w, h) = (img.getWidth, img.getHeight)
    val c = img.getColorModel.getNumComponents
    // Supported envelope, checked LOUDLY: 8-bit component images whose
    // raster carries one band per color component (gray, RGB, RGBA).
    // img.getType can be TYPE_CUSTOM (0), which BufferedImage rejects,
    // so the output type derives from the channel count — but palette
    // rasters (bands != components) and >8-bit samples are refused
    // rather than silently truncated: a deployment adds an explicit
    // up-front conversion for those, it does not let a thumbnailer
    // quietly corrupt them.
    require(img.getRaster.getNumBands == c,
      s"palette/indexed raster (bands=${img.getRaster.getNumBands}, " +
        s"components=$c): convert before resizing")
    require(img.getColorModel.getComponentSize(0) <= 8,
      s"${img.getColorModel.getComponentSize(0)}-bit samples: convert " +
        "before resizing")
    val outType = c match {
      case 1 => BufferedImage.TYPE_BYTE_GRAY
      case 3 => BufferedImage.TYPE_3BYTE_BGR
      case 4 => BufferedImage.TYPE_4BYTE_ABGR
      case n => throw new IllegalArgumentException(s"unsupported channel count $n")
    }
    val out = new BufferedImage(w2, h2, outType)
    val rin = img.getRaster
    val rout = out.getRaster
    var y = 0
    while (y < h2) {
      val y0 = (y.toLong * h / h2).toInt
      val y1 = ((y + 1).toLong * h / h2).toInt
      var x = 0
      while (x < w2) {
        val x0 = (x.toLong * w / w2).toInt
        val x1 = ((x + 1).toLong * w / w2).toInt
        var k = 0
        while (k < c) {
          var sum = 0L
          var yy = y0
          while (yy < y1) {
            var xx = x0
            while (xx < x1) { sum += rin.getSample(xx, yy, k); xx += 1 }
            yy += 1
          }
          rout.setSample(x, y, k,
            (sum / ((x1 - x0).toLong * (y1 - y0))).toInt)
          k += 1
        }
        x += 1
      }
      y += 1
    }
    out
  }

  /** q_mm_resize: REAL thumbnailing — fit every image inside a `box`×`box`
    * bounding box preserving aspect ratio (integer floor arithmetic — the
    * exact dims a thumbnailer must produce), pass through images already
    * inside the box (the PNG fixture's 8..307 range straddles the box on
    * purpose), and for the rest produce the RESIZED PIXELS via
    * [[areaAverageResize]], re-encode them as PNG — the artifact a real
    * pipeline ships — then CERTIFY the emitted payload by re-decoding it
    * and measuring dims/channels/mean-luma from its pixels. The DuckDB
    * oracle re-derives every measured value closed-form: the fixture's
    * two-tone columns make each output column's floor-mean an exact
    * rational of the tone split (y-uniformity means the y boxes cancel),
    * so a resizer that interpolates, rounds instead of floors, mis-boxes,
    * or fakes the output payload mismatches immediately. Scale shape:
    * decode→resize→encode→re-decode all run where the bytes are — zero
    * shuffle, the F1 mapPartitions contract. */
  def mmResize(s: SparkSession, dir: String, box: Int = 256): DataFrame = {
    val src = graft.sources.TableIO.readStatic(s, pngFixture(s, dir))
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("out_width", IntegerType),
      StructField("out_height", IntegerType),
      StructField("resized", StringType),
      StructField("out_channels", IntegerType),
      StructField("out_mean_luma", DoubleType)))
    val rows = src.rdd.mapPartitions(_.map { r =>
      val payload = r.getAs[Array[Byte]]("payload")
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payload))
      val (w, h) = (img.getWidth, img.getHeight)
      val needs = w > box || h > box
      val (w2, h2) =
        if (!needs) (w, h)
        else if (w >= h) (box, (h.toLong * box / w).toInt)
        else ((w.toLong * box / h).toInt, box)
      // resized branch: re-decode the EMITTED payload, so the reported
      // features are measured from the artifact itself, never from the
      // plan. Pass-throughs emit their input bytes unchanged — the decode
      // already in hand IS that payload's decode, so a second full PNG
      // read would be bit-identical busywork (~70% of the fixture).
      val (dw, dh, dc, luma) =
        if (!needs) decodedFeatures(img)
        else {
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(areaAverageResize(img, w2, h2), "png", bos)
          decodePng(bos.toByteArray)
        }
      Row(r.getAs[Long]("doc_id"), w, h, dw, dh, needs.toString, dc, luma)
    })
    s.createDataFrame(rows, schema)
  }

  /** 56-bit difference hash over a decoded raster: exact integer 9×7
    * grid (box x∈[⌊i·w/9⌋,⌊(i+1)·w/9⌋), y likewise over 7 rows — no
    * interpolation, so both engines can reproduce the boxes exactly),
    * per-box sample sums, and bit (j·8+i) set iff box i's mean exceeds
    * box i+1's in row j — compared by INTEGER cross-multiplication, so
    * no division ever happens. 56 bits (not dHash's usual 64) keeps
    * every shift below the sign bit, where the two engines' BIGINT
    * overflow semantics diverge. Sums fit long: ≤255·307·307·3 ≈ 7.2e7
    * per box, cross-products ≤ 2.2e13. */
  private def dHash56(img: java.awt.image.BufferedImage): Long = {
    val (w, h) = (img.getWidth, img.getHeight)
    val bands = img.getColorModel.getNumComponents
    val raster = img.getRaster
    val x0 = Array.tabulate(10)(i => i * w / 9)
    val y0 = Array.tabulate(8)(j => j * h / 7)
    var hash = 0L
    var j = 0
    while (j < 7) {
      val sums = new Array[Long](9)
      val cnts = new Array[Long](9)
      var i = 0
      while (i < 9) {
        var s = 0L
        var x = x0(i)
        while (x < x0(i + 1)) {
          var y = y0(j)
          while (y < y0(j + 1)) {
            var k = 0
            while (k < bands) { s += raster.getSample(x, y, k); k += 1 }
            y += 1
          }
          x += 1
        }
        sums(i) = s
        cnts(i) = (x0(i + 1) - x0(i)).toLong * (y0(j + 1) - y0(j)) * bands
        i += 1
      }
      i = 0
      while (i < 8) {
        if (sums(i) * cnts(i + 1) > sums(i + 1) * cnts(i))
          hash |= 1L << (j * 8 + i)
        i += 1
      }
      j += 1
    }
    hash
  }

  /** q_mm_phash_dedup: PERCEPTUAL image dedup — group by difference hash
    * of the decoded pixels, the content-level screen byte-sha dedup
    * (q_mm_dedup) structurally misses: re-encoded, resized, or
    * differently-channeled copies of the same picture share a phash while
    * no two bytes match. Real pixel work on the Spark side (the same
    * mapPartitions decode as q_mm_decode_features, then the integer
    * 9×7-grid dHash); the DuckDB oracle derives each fixture image's hash
    * in closed form from the generator (two vertical bands ⇒ the y grid
    * cancels out of every mean comparison and all 7 rows repeat one byte
    * — rowbits · 0x01010101010101), so a wrong decode OR a wrong grid
    * mismatches immediately. The fixture proves the invariance claim:
    * images of different sizes and channel counts land in the same
    * group whenever their band structure agrees. Scale shape: the
    * per-image hash table is a PERSISTED per-sf-dir artifact (the
    * [[videoFrameTablePath]] decode-once discipline — the pixel decode
    * runs once, where the bytes are, when the table is built; the
    * oracle's closed-form hash check certifies that build); the gate
    * itself is one FileScan + one map-side-combined exchange on the
    * 8-byte hash. q_mm_decode_features stays the live-decode certifying
    * gate for this fixture. */
  def mmPhashDedup(s: SparkSession, dir: String): DataFrame = {
    graft.sources.TableIO.readStatic(s, graft.sources.ScratchDirs.persistedParquet(
        "mm_phash_fix", dir)(dHashFrame(s, pngFixture(s, dir), "doc_id")))
      .groupBy("phash")
      .agg(count(lit(1)).as("n_copies"), min("doc_id").as("canonical_doc_id"))
  }

  // -------------------------------------------------------------------
  // Video container: real per-frame decode
  // -------------------------------------------------------------------

  /** Frame count and per-frame pseudo-id of doc `id`'s video fixture:
    * 2 + id % 4 frames, frame f encoded as [[encodePng]]'s raster for
    * fid = id·31 + 7·f — so every frame's dims/channels/luma inherit the
    * PNG generator's closed forms, now keyed by (doc, frame). */
  private def videoParams(id: Long): (Int, Int => Long) =
    ((2 + id % 4).toInt, (f: Int) => id * 31 + 7L * f)

  /** Deterministic video payload: a length-prefixed concatenation of PNG
    * frames behind a tiny magic+count header — a synthetic MJPEG-style
    * container (the JDK ships no real video codec; the CONTAINER is the
    * stand-in, the per-frame pixel decode below is real). */
  private def gftvContainer(frames: Seq[Array[Byte]]): Array[Byte] = {
    val buf = java.nio.ByteBuffer.allocate(8 + frames.map(_.length + 4).sum)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    buf.put("GFTV".getBytes("US-ASCII")).putInt(frames.size)
    frames.foreach { b => buf.putInt(b.length); buf.put(b) }
    buf.array()
  }

  private def encodeVideo(id: Long): Array[Byte] = {
    val (nf, fid) = videoParams(id)
    gftvContainer((0 until nf).map(f => encodePng(fid(f))))
  }

  private[operators] def videoFixture(s: SparkSession, dir: String): String =
    payloadFixture(s, dir, "mm_gftv_fix")(encodeVideo)

  /** q_mm_video_frames: per-frame REAL decode out of a video container —
    * the upgrade of the byte-window frame sampler (q_mm_frame_sample) to
    * genuine pixel work: parse the container index, decode EVERY frame
    * with `javax.imageio`, and emit one row per (doc, frame) carrying
    * decoded dims/channels/mean-luma — the frame table a vision-language
    * curation pipeline runs dedup/quality/caption passes over. The
    * container is a synthetic MJPEG-style concatenation (no video codec
    * ships with the JDK — honestly stubbed at the CONTAINER level only);
    * every per-frame number is a real decode, and the DuckDB oracle
    * re-derives all of them closed-form from the generator keyed by
    * (doc, frame). Scale shape: zero shuffle — container parse + frame
    * decode fan out rows in place, exactly where the bytes are; frame
    * identity (doc_id, frame_idx) keys every downstream per-frame
    * operator. */
  /** Walk a GFTV container: validate magic, then yield each frame's
    * (index, PNG bytes) — the ONE parser both video gates share, so a
    * corrupt payload fails fast with the doc id instead of misreading
    * garbage frame lengths. */
  private def videoFrameIter(id: Long,
                             payload: Array[Byte]): Iterator[(Int, Array[Byte])] = {
    val buf = java.nio.ByteBuffer.wrap(payload)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    val magic = new Array[Byte](4)
    buf.get(magic)
    require(new String(magic, "US-ASCII") == "GFTV",
      s"bad container magic for doc $id")
    val nf = buf.getInt
    (0 until nf).iterator.map { f =>
      val len = buf.getInt
      val frame = new Array[Byte](len)
      buf.get(frame)
      (f, frame)
    }
  }

  def mmVideoFrames(s: SparkSession, dir: String): DataFrame = {
    val src = graft.sources.TableIO.readStatic(s, videoFixture(s, dir))
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("frame_idx", IntegerType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("channels", IntegerType),
      StructField("mean_luma", DoubleType)))
    val rows = src.rdd.mapPartitions(_.flatMap { r =>
      val id = r.getAs[Long]("doc_id")
      videoFrameIter(id, r.getAs[Array[Byte]]("payload")).map { case (f, frame) =>
        val (w, h, c, luma) = decodePng(frame)
        Row(id, f, w, h, c, luma)
      }
    })
    s.createDataFrame(rows, schema)
  }

  /** Persisted FRAME TABLE: every video decoded ONCE per sf dir, with the
    * per-frame artifacts (decoded dims/channels/luma + perceptual hash)
    * written as parquet — the production shape for multi-consumer frame
    * work: previously both frame consumers re-decoded every frame inline
    * (~17k real PNG decodes × 2 gates per bench pass); a deployment
    * decodes once and every frame operator (dedup, quality screens,
    * future caption/sampling passes) reads the table. q_mm_video_frames
    * stays a LIVE decode — it is the gate that times (and certifies) the
    * decode itself; the consumers below are plan-pinned to a FileScan of
    * this table (PlanShapeSpec), never a second decode. */
  private[graft] def videoFrameTablePath(s: SparkSession, dir: String): String =
    graft.sources.ScratchDirs.persistedParquet("mm_frames_fix", dir) {
      val src = graft.sources.TableIO.readStatic(s, videoFixture(s, dir))
      val schema = StructType(Seq(
        StructField("doc_id", LongType),
        StructField("frame_idx", IntegerType),
        StructField("phash", LongType),
        StructField("width", IntegerType),
        StructField("height", IntegerType),
        StructField("channels", IntegerType),
        StructField("mean_luma", DoubleType)))
      val rows = src.rdd.mapPartitions(_.flatMap { row =>
        val id = row.getAs[Long]("doc_id")
        videoFrameIter(id, row.getAs[Array[Byte]]("payload")).map {
          case (f, frame) =>
            val img = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(frame))
            val (w, h, c, luma) = decodedFeatures(img)
            Row(id, f, dHash56(img), w, h, c, luma)
        }
      })
      s.createDataFrame(rows, schema)
    }

  /** q_mm_video_frame_dedup: CROSS-VIDEO duplicated-frame detection —
    * the re-posted-clip screen: group the frame table's perceptual
    * hashes (the same integer 9×7 dHash as the image gates, computed
    * from REAL per-frame decodes when [[videoFrameTablePath]] built the
    * table) ACROSS videos, keeping only hashes seen in ≥ 2 distinct
    * videos. A clip re-encoded into another upload shares frame phashes
    * while no container byte matches — the video-level analogue of what
    * q_mm_phash_dedup does for stills. The oracle derives every frame's
    * hash closed-form from the generator, so a wrong decode at table
    * build, or a consumer that reads anything but the real table,
    * mismatches. Scale shape: ONE FileScan of the persisted frame table
    * (decode already paid, once, by the table build), then ONE
    * map-side-combined exchange on the 8-byte hash; cross-video-ness is
    * a count-distinct over the video id riding the same exchange. */
  def mmVideoFrameDedup(s: SparkSession, dir: String): DataFrame =
    graft.sources.TableIO.readStatic(s, videoFrameTablePath(s, dir))
      .groupBy("phash")
      .agg(count(lit(1)).as("n_frames"),
        countDistinct(col("doc_id")).as("n_videos"),
        min(col("doc_id")).as("canonical_doc_id"))
      .filter(col("n_videos") >= 2)

  /** q_mm_video_stats: per-video frame-QUALITY summary — the second
    * consumer of the persisted frame table (proving the decode-once
    * shape): frame count, DISTINCT perceptual hashes (a static clip —
    * every frame perceptually identical — is the classic low-value
    * upload a video curation pass drops), luma extremes and spread
    * (exposure screen). All closed-form for the oracle: frame f of doc d
    * is the PNG raster for fid = d·31 + 7f, so luma = (a+b)/2 exactly
    * and the within-video hash collisions replay from the generator.
    * One FileScan + one map-side-combined groupBy on the video id. */
  def mmVideoStats(s: SparkSession, dir: String): DataFrame =
    graft.sources.TableIO.readStatic(s, videoFrameTablePath(s, dir))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_frames"),
        countDistinct(col("phash")).as("n_distinct_frames"),
        min("mean_luma").as("min_luma"),
        max("mean_luma").as("max_luma"))
      .withColumn("luma_range", col("max_luma") - col("min_luma"))
      .withColumn("is_static",
        (col("n_distinct_frames") === 1).cast(StringType))

  // -------------------------------------------------------------------
  // Temporal clip-level near-dup (frame-SEQUENCE shingles)
  // -------------------------------------------------------------------

  /** Per-cell tone of the GRID raster: the double-squared reduced form
    * (z = cell id mod 65521; w = z² mod 65521; tone = (w² mod 65519)
    * mod 256) — NONLINEAR on purpose (quadratic through two primes,
    * exact in both engines' BIGINT: every factor < 65521, products
    * < 4.3e9; the earlier unreduced z² overflowed Long past
    * fid ≈ 4.8e7, i.e. well inside a billion-video corpus).
    * Two-tone and row-banded rasters leave the 56 dHash bits heavily
    * correlated (the per-row comparison pattern has a handful of forms —
    * measured: 63 distinct hashes over 2,124 frames), and a LINEAR cell
    * hash (multiplicative constant on consecutive ids) is a fixed-step
    * lattice with the same disease; the quadratic gives 2,075 distinct
    * hashes over the same 2,124 frames (max collision 3), so frame
    * hashes are effectively unique and a shared temporal shingle MEANS
    * a shared clip — exactly the 125 seeded twin pairs at sf0.01,
    * zero coincidences. */
  private def gridTone(fid: Long, j: Int, i: Int): Int = {
    val z = (fid * 63 + j * 9 + i + 1) % 65521L
    val w = (z * z) % 65521L
    (((w * w) % 65519L) % 256L).toInt
  }

  /** 7×9-grid raster aligned to the dHash grid (w = 9u, h = 7m), cell
    * (j, i) filled with [[gridTone]] — so the decoded dHash is
    * closed-form bit (j·8+i) = tone(j,i) > tone(j,i+1), with full 56-bit
    * entropy. */
  private def encodePngGrid(fid: Long): Array[Byte] = {
    import java.awt.image.BufferedImage
    val u = 2 + (fid % 5).toInt
    val m = 2 + (fid % 4).toInt
    val (w, h) = (9 * u, 7 * m)
    val gray = fid % 2 == 0
    val img = new BufferedImage(w, h,
      if (gray) BufferedImage.TYPE_BYTE_GRAY else BufferedImage.TYPE_3BYTE_BGR)
    val raster = img.getRaster
    val bands = if (gray) 1 else 3
    var j = 0
    while (j < 7) {
      var i = 0
      while (i < 9) {
        val v = gridTone(fid, j, i)
        var y = j * m
        while (y < (j + 1) * m) {
          var x = i * u
          while (x < (i + 1) * u) {
            var k = 0
            while (k < bands) { raster.setSample(x, y, k, v); k += 1 }
            x += 1
          }
          y += 1
        }
        i += 1
      }
      j += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Clip-reuse fixture payload: base video 2d has nf = 3 + d % 3 frames
    * (frame f's raster keyed by fid = 31d + 7f); for every fourth doc a
    * RE-UPLOAD video 2d+1 drops frame 0, keeps frames 1..nf−1 VERBATIM,
    * and appends one new closing frame (fid = 31d + 7nf + 13) — the
    * trimmed re-post. Neither whole-video identity nor the frame SET
    * matches, and single-frame dedup (q_mm_video_frame_dedup's shape)
    * sees only isolated hash hits — but every shared CONSECUTIVE frame
    * pair survives, which is what the temporal-shingle gate detects. */
  private def encodeVideoClip(id: Long, twin: Boolean): Array[Byte] = {
    val nf = (3 + id % 3).toInt
    def fid(f: Int): Long = id * 31 + 7L * f
    val fids =
      if (!twin) (0 until nf).map(fid)
      else (1 until nf).map(fid) :+ (id * 31 + 7L * nf + 13L)
    gftvContainer(fids.map(encodePngGrid))
  }

  /** STATIC clip for doc d (id 2d+1, seeded when d % 4 == 2 — the twin
    * slot is free there): 3 copies of ONE frame, fid = 31d + 1. The fid
    * never collides with any base/twin fid (31Δd = 7f − 1 and
    * 31Δd = 7nf + 12 have no solutions in range), so a static clip's
    * lone (x, x) shingle pairs with nothing — it exists to be dropped by
    * the curation gate's frame-stats screen (n_distinct_frames = 1), the
    * classic low-value upload, NOT by clip near-dup. */
  private def encodeVideoStatic(id: Long): Array[Byte] =
    gftvContainer(Seq.fill(3)(encodePngGrid(id * 31 + 1)))

  private[operators] def videoClipFixture(s: SparkSession, dir: String): String =
    payloadRows(s, dir, "mm_gftv2_fix", "video_id") { id =>
      val base = id * 2 -> encodeVideoClip(id, twin = false)
      if (id % 4 == 0) Seq(base, id * 2 + 1 -> encodeVideoClip(id, twin = true))
      else if (id % 4 == 2) Seq(base, id * 2 + 1 -> encodeVideoStatic(id))
      else Seq(base)
    }

  /** Frame table of the clip fixture — the same decode-once discipline
    * as [[videoFrameTablePath]], minimal (video, frame, phash) schema. */
  private[graft] def videoClipFrameTablePath(s: SparkSession, dir: String): String =
    graft.sources.ScratchDirs.persistedParquet("mm_frames2_fix", dir) {
      val src = graft.sources.TableIO.readStatic(s, videoClipFixture(s, dir))
      val rows = src.rdd.mapPartitions(_.flatMap { row =>
        val id = row.getAs[Long]("video_id")
        videoFrameIter(id, row.getAs[Array[Byte]]("payload")).map {
          case (f, frame) =>
            Row(id, f, dHash56(javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(frame))))
        }
      })
      s.createDataFrame(rows, StructType(Seq(
        StructField("video_id", LongType),
        StructField("frame_idx", IntegerType),
        StructField("phash", LongType))))
    }

  /** Persisted clip-pair table: the near-dup pair set computed ONCE per
    * sf dir and written as parquet — the [[videoFrameTablePath]]
    * decode-once discipline lifted one stage: the pair set is a
    * multi-consumer curation artifact (the drop list here, the
    * cross-modality leakage groups in the curation capstone), and each
    * consumer should pay a FileScan, not a re-run of the shingle
    * self-join. q_mm_video_clip_neardup stays the LIVE leg — it times
    * (and certifies) the pair computation itself. */
  private[graft] def videoClipPairTablePath(s: SparkSession, dir: String): String =
    graft.sources.ScratchDirs.persistedParquet("mm_clippairs_fix", dir)(
      // failOnDrop: see phashPairTablePath — the exact-pair-set contract.
      mmVideoClipNeardup(s, dir, failOnDrop = true))

  /** q_mm_video_curation: the video DROP-LIST — per-video frame stats
    * joined with the clip near-dup pair set, folded into the keep/drop
    * decision a curation pipeline publishes, with MULTI-REASON drop
    * attribution (the MLS `_reject_reasons` concat_ws precedent,
    * mls_listings_transform.py:118): `clip_dup` drops the non-canonical
    * side of every detected clip pair (video_a < video_b by
    * construction, so the kept copy is the minimum id — the same
    * canonical-election rule every dedup family here uses) and
    * `static_clip` drops clips whose every frame is perceptually
    * identical (n_distinct_frames = 1 — the classic low-value upload;
    * the fixture seeds one per doc ≡ 2 mod 4). A video failing several
    * screens lists every reason, comma-joined in screen order. Scale
    * shape: BOTH inputs are persisted artifacts — the frame table and
    * the clip-pair table — so the published list costs two FileScans,
    * one stats groupBy, and one left join; the expensive shingle
    * self-join was paid once when the pair table was built
    * (q_mm_video_clip_neardup stays the live leg timing it). */
  def mmVideoCuration(s: SparkSession, dir: String): DataFrame = {
    val frames = graft.sources.TableIO.readStatic(s, videoClipFrameTablePath(s, dir))
    val stats = frames.groupBy("video_id")
      .agg(count(lit(1)).as("n_frames"),
        countDistinct(col("phash")).as("n_distinct_frames"))
    val drops = graft.sources.TableIO.readStatic(s, videoClipPairTablePath(s, dir))
      .select(col("video_b").as("video_id")).distinct()
      .withColumn("is_dup", lit(true))
    stats.join(drops, Seq("video_id"), "left")
      .withColumn("drop_reason", concat_ws(",",
        when(col("is_dup"), lit("clip_dup")),
        when(col("n_distinct_frames") === 1, lit("static_clip"))))
      .select(col("video_id"), col("n_frames"), col("n_distinct_frames"),
        (col("drop_reason") === "").cast(StringType).as("kept"),
        col("drop_reason"))
  }

  /** q_mm_video_clip_neardup: TEMPORAL clip-level near-dup — detect
    * videos sharing a RUN of consecutive frames (a re-posted clip,
    * trimmed or extended) by shingling each video's perceptual-hash
    * SEQUENCE into adjacent-pair 2-shingles and scoring pairs by shared
    * shingles + Jaccard: the sequence analogue of text shingle-Jaccard,
    * one level above single-frame dedup (which sees isolated hash hits
    * but says nothing about temporal alignment — the difference between
    * "these uploads share a stock still" and "this upload contains that
    * clip"). Scale shape: shingles assemble INSIDE one per-video
    * aggregation (collect_list of the bounded frame list, sort, adjacent
    * pairing into a `struct(ph_a, ph_b)` 16-byte key — one
    * map-side-combined exchange on the video id; a decimal-string
    * `concat` key here would be ~40 shuffle bytes for the same
    * information, the repo's hashed-key discipline applied to a
    * composite key that needs no hashing at all); the candidate
    * self-join keys on the shingle struct with the simhash-style
    * `maxDf` windowed cap riding its exchange (flat-frame shingles are
    * the degenerate bucket class), and the pair aggregation carries both
    * videos' shingle counts so Jaccard needs no second pass. Oracle:
    * closed-form frame hashes → the same shingling → the same pair
    * scores, exactly. */
  def mmVideoClipNeardup(s: SparkSession, dir: String,
                         maxDf: Int = 1000,
                         failOnDrop: Boolean = false): DataFrame =
    seqShinglePairs(graft.sources.TableIO.readStatic(s, videoClipFrameTablePath(s, dir)),
        "video_id", "frame_idx", "phash", maxDf, "clip_shingle_cap",
        failOnDrop = failOnDrop)
      .withColumnRenamed("id_a", "video_a")
      .withColumnRenamed("id_b", "video_b")

  /** Capped adjacent-pair SEQUENCE-shingle candidate join — the temporal
    * reuse machinery shared by the video clip gate and the audio splice
    * gate: per id, sort the (ord, value) rows, shingle adjacent value
    * pairs into `struct(ph_a, ph_b)` 16-byte keys inside one
    * map-side-combined exchange on the id, self-join on the shingle with
    * the `maxDf` windowed cap riding the shingle exchange, and score
    * pairs by shared-shingle count + Jaccard (both sides' shingle counts
    * ride the pair aggregation — no second pass). */
  private[graft] def seqShinglePairs(seq: DataFrame, idCol: String,
      ordCol: String, valCol: String, maxDf: Int,
      capMetric: String, failOnDrop: Boolean = false): DataFrame = {
    val vs = seq.groupBy(idCol)
      .agg(sort_array(collect_list(struct(col(ordCol), col(valCol))))
        .as("fs"))
      .filter(size(col("fs")) >= 2) // <2 rows => no shingles (explode
      //                               of the empty list emits nothing)
      .select(col(idCol), expr(
        s"array_distinct(transform(sequence(0, size(fs) - 2), " +
          s"i -> named_struct('ph_a', fs[i].$valCol, " +
          s"'ph_b', fs[i + 1].$valCol)))").as("shs"))
      .select(col(idCol), explode(col("shs")).as("shingle"))
      .withColumn("n_sh", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(idCol)))
    BandJoin.self(vs, Seq("shingle"), col(s"a.$idCol") < col(s"b.$idCol"),
        Some(BandJoin.Cap(maxDf, capMetric, failOnDrop)))
      .groupBy(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .agg(count(lit(1)).as("n_shared"),
        max(col("a.n_sh")).as("n_a"), max(col("b.n_sh")).as("n_b"))
      .withColumn("jaccard", col("n_shared").cast(DoubleType) /
        (col("n_a") + col("n_b") - col("n_shared")).cast(DoubleType))
  }

  // -------------------------------------------------------------------
  // Real audio decode (javax.sound.sampled WAV/PCM)
  // -------------------------------------------------------------------

  /** Deterministic 16-bit PCM WAV payload for `doc_id`: a two-level
    * square wave — even half-periods at +A, odd at −B, half-period `h`
    * samples, `n` frames at 8 kHz, mono for even ids and dual-mono
    * stereo for odd — hand-assembled RIFF container (44-byte canonical
    * header + little-endian samples), so every audio feature is
    * CLOSED-FORM in doc_id: with q = n div h full half-periods and
    * r = n mod h remainder samples, cntA = ⌈q/2⌉·h (+r if q even),
    * peak = max(A,B), Σ|s| = c·(cntA·A + cntB·B), zero crossings =
    * ⌊(n−1)/h⌋ (dual-mono interleaving adds none: L=R), energy =
    * c·(cntA·A² + cntB·B²) — all exact integers. */
  private def audioParams(id: Long): (Int, Int, Int, Int, Int) = {
    val n = 256 + (id % 1000).toInt
    val h = 2 + (id % 30).toInt
    val a = 1000 + ((id * 13) % 20000).toInt
    val b = 1000 + ((id * 7 + 500) % 20000).toInt
    val c = 1 + (id % 2).toInt
    (n, h, a, b, c)
  }

  private def encodeWav(id: Long): Array[Byte] = encodeWavContainer(id, None)

  /** RIFF assembly with an optional LIST/INFO metadata chunk between
    * `fmt ` and `data` — the bytes a tag editor or re-wrapper inserts:
    * the PCM payload is UNTOUCHED, every byte-level hash changes.
    * `tagId = true` (the dedup fixture) additionally stamps the first 4
    * frames with 14-bit slices of doc_id, making the PCM stream a
    * COLLISION-FREE function of the document at any corpus size — the
    * raw parameter lattice repeats every lcm(1000,30,20000,2) = 60 000
    * ids, which would silently merge oracle groups past 60k documents. */
  private def encodeWavContainer(id: Long, info: Option[String],
                                 tagId: Boolean = false): Array[Byte] = {
    val (n, h, a, b, c) = audioParams(id)
    // LIST chunk: "LIST" + size + "INFO" + "IART" + size + text (padded even)
    val infoBytes = info.map { t =>
      val txt0 = t.getBytes("US-ASCII")
      val txt = if (txt0.length % 2 == 0) txt0 else txt0 :+ 0.toByte
      val chunk = java.nio.ByteBuffer.allocate(8 + 4 + 8 + txt.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      chunk.put("LIST".getBytes("US-ASCII")).putInt(4 + 8 + txt.length)
        .put("INFO".getBytes("US-ASCII"))
        .put("IART".getBytes("US-ASCII")).putInt(txt.length).put(txt)
      chunk.array()
    }.getOrElse(Array.emptyByteArray)
    val buf = pcmWav(n, c, infoBytes)
    var i = 0
    while (i < n) {
      val v = if (tagId && i < 4) idTagSample(id, i)
              else (if ((i / h) % 2 == 0) a else -b).toShort
      var k = 0
      while (k < c) { buf.putShort(v); k += 1 }
      i += 1
    }
    buf.array()
  }

  /** REAL WAV decode: `javax.sound.sampled.AudioSystem` parses the RIFF
    * container and format chunk; samples are then read as 16-bit signed
    * little-endian PCM and every feature is summed in exact integer
    * arithmetic (the one IEEE op is the final mean division). */
  private def decodeWav(payload: Array[Byte]): (Int, Int, Long, Long, Long, Long, Long) = {
    val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(payload))
    val fmt = in.getFormat
    require(fmt.getSampleSizeInBits == 16 && !fmt.isBigEndian,
      s"unexpected PCM layout: $fmt")
    val c = fmt.getChannels
    val sr = fmt.getSampleRate.toInt
    val bytes = in.readAllBytes()
    in.close()
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val total = bytes.length / 2
    var sumAbs = 0L
    var energy = 0L
    var peak = 0L
    var zc = 0L
    var prev = 0
    var i = 0
    while (i < total) {
      val v = bb.getShort(i * 2).toInt
      val av = math.abs(v).toLong
      sumAbs += av
      energy += av * av
      if (av > peak) peak = av
      if (i > 0 && ((prev < 0 && v >= 0) || (prev >= 0 && v < 0))) zc += 1
      prev = v
      i += 1
    }
    (c, sr, total / c, sumAbs, peak, zc, energy)
  }

  /** WAV payload table, synthesized distributed once per sf dir — the
    * [[pngFixture]] contract for the audio modality. */
  private[operators] def wavFixture(s: SparkSession, dir: String): String =
    payloadFixture(s, dir, "mm_wav_fix", sizedBy = Some(wavBytesOf))(encodeWav)

  /** Audio-dedup fixture: one clean WAV per document (audio_id =
    * 2·doc_id) plus, for every fifth document, a RE-CONTAINERED twin
    * (audio_id = 2·doc_id + 1) — identical PCM behind an inserted
    * LIST/INFO metadata chunk, the re-wrap a tag editor produces. The
    * [[pngNearFixture]] contract: seeded positives byte-level identity
    * provably misses. */
  private[operators] def wavDupFixture(s: SparkSession, dir: String): String =
    payloadRows(s, dir, "mm_wavdup_fix", "audio_id",
        Some(id => wavBytesOf(id) * (if (id % 5 == 0) 2 else 1))) { id =>
      // tagId stamps the doc id into the PCM so streams are
      // collision-free at ANY corpus size (see encodeWavContainer)
      val base = id * 2 -> encodeWavContainer(id, None, tagId = true)
      if (id % 5 == 0) Seq(base, id * 2 + 1 ->
        encodeWavContainer(id, Some(s"artist-$id"), tagId = true))
      else Seq(base)
    }

  /** Gapped waveform for the segmentation gate: the square wave of
    * [[audioParams]] with every fourth half-period SILENCED (samples 0)
    * — so maximal non-silent runs, hence the segmentation a
    * silence-splitter must recover, are closed-form: segment k spans
    * frames [4k·h, min((4k+3)·h, n) − 1], k < ⌈n / 4h⌉. */
  private def encodeWavGapped(id: Long): Array[Byte] = {
    val (n, h, a, b, c) = audioParams(id)
    val buf = pcmWav(n, c)
    var i = 0
    while (i < n) {
      val j = i / h
      val v = (if (j % 4 == 3) 0
               else if (j % 2 == 0) a else -b).toShort
      var k = 0
      while (k < c) { buf.putShort(v); k += 1 }
      i += 1
    }
    buf.array()
  }

  /** 14-bit doc-id slice stamped into tagged frame `k` (always > 0 —
    * never collides with silence and fits a signed short). */
  private def idTagSample(id: Long, k: Int): Short =
    (((id >> (14 * k)) & 0x3FFF) + 1).toShort

  private[operators] def wavGapFixture(s: SparkSession, dir: String): String =
    payloadFixture(s, dir, "mm_wavgap_fix",
      sizedBy = Some(wavBytesOf))(encodeWavGapped)

  /** q_mm_audio_segments: SILENCE-SPLIT segmentation — the speech-pause
    * pass an audio curation pipeline runs before per-utterance dedup,
    * transcription, or packing: decode the PCM (real `javax.sound`
    * parse), walk frames once, and emit one row per maximal non-silent
    * run with (audio, segment) identity and frame extent. Segmentation
    * happens INSIDE the decode loop (imperative per-partition work — the
    * F1 mapPartitions contract), so the operator adds zero shuffle and
    * zero row blow-up beyond its output: at 100 TB the corpus-scale cost
    * is the same single decode pass the feature gate pays, and segments
    * flow keyed (doc_id, seg_idx) into every downstream per-segment
    * operator. The fixture silences every fourth half-period, so the
    * expected segment set is closed-form in (n, h) and the DuckDB oracle
    * replays it exactly — a decoder that misses a gap, merges across
    * one, or mis-counts a truncated tail mismatches immediately. */
  def mmAudioSegments(s: SparkSession, dir: String): DataFrame = {
    val src = graft.sources.TableIO.readStatic(s, wavGapFixture(s, dir))
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("seg_idx", IntegerType),
      StructField("start_frame", LongType),
      StructField("end_frame", LongType),
      StructField("n_frames", LongType)))
    val rows = src.rdd.mapPartitions(_.flatMap { r =>
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("payload")))
      val c = in.getFormat.getChannels
      val bytes = in.readAllBytes()
      in.close()
      val bb = java.nio.ByteBuffer.wrap(bytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val frames = bytes.length / (2 * c)
      val segs = Vector.newBuilder[(Long, Long)]
      var segStart = -1L
      var f = 0
      while (f < frames) {
        var silent = true
        var k = 0
        while (k < c && silent) {
          if (bb.getShort((f * c + k) * 2) != 0) silent = false
          k += 1
        }
        if (!silent && segStart < 0) segStart = f
        if (silent && segStart >= 0) { segs += ((segStart, f - 1L)); segStart = -1L }
        f += 1
      }
      if (segStart >= 0) segs += ((segStart, frames - 1L))
      val id = r.getAs[Long]("doc_id")
      segs.result().iterator.zipWithIndex.map { case ((s0, e0), i) =>
        Row(id, i, s0, e0, e0 - s0 + 1)
      }
    })
    s.createDataFrame(rows, schema)
  }

  /** q_mm_audio_dedup: CONTAINER-INVARIANT audio dedup — group by the
    * SHA-256 of the DECODED PCM stream (prefixed with the
    * channels/sample-rate format identity), not of the payload bytes:
    * the same recording re-wrapped with different container metadata
    * (the fixture's LIST/INFO twins) shares a PCM hash while no two
    * payload bytes match, which is exactly the duplicate class
    * byte-sha dedup (q_mm_dedup's shape) structurally misses. The gate
    * makes the miss hash-visible: `n_containers` counts DISTINCT
    * payload-byte hashes inside each PCM group — equal to `n_copies`
    * on every twin group, i.e. byte-level identity found nothing to
    * merge. Scale shape: decode + both hashes run where the bytes are;
    * one map-side-combined exchange on the 32-byte PCM hash. The
    * oracle derives group structure closed-form (PCM is a pure,
    * COLLISION-FREE function of doc_id: the fixture stamps doc-id bits
    * into the first frames, because the parameter lattice alone repeats
    * every 60 000 ids and would merge oracle groups at larger corpora),
    * so a decode that reads container bytes into the PCM stream, or
    * misses the twin's identical samples, mismatches immediately. */
  def mmAudioDedup(s: SparkSession, dir: String): DataFrame = {
    val src = graft.sources.TableIO.readStatic(s, wavDupFixture(s, dir))
    val schema = StructType(Seq(
      StructField("audio_id", LongType),
      StructField("pcm_sha", StringType),
      StructField("payload_sha", StringType),
      StructField("n_frames", LongType)))
    val rows = src.rdd.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("SHA-256")
      it.map { r =>
        val payload = r.getAs[Array[Byte]]("payload")
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(payload))
        val fmt = in.getFormat
        val pcm = in.readAllBytes()
        in.close()
        md.reset()
        md.update(s"${fmt.getChannels}:${fmt.getSampleRate.toInt}:".getBytes("US-ASCII"))
        md.update(pcm)
        val pcmSha = md.digest().map("%02x".format(_)).mkString
        md.reset()
        val paySha = md.digest(payload).map("%02x".format(_)).mkString
        Row(r.getAs[Long]("audio_id"), pcmSha, paySha,
          pcm.length.toLong / (2L * fmt.getChannels))
      }
    }
    s.createDataFrame(rows, schema)
      .groupBy("pcm_sha")
      .agg(min("audio_id").as("canonical_audio_id"),
        count(lit(1)).as("n_copies"),
        countDistinct(col("payload_sha")).as("n_containers"),
        max("n_frames").as("n_frames"))
      .select("canonical_audio_id", "n_copies", "n_containers", "n_frames")
  }

  // -------------------------------------------------------------------
  // Perceptual audio near-dup (energy-profile fingerprint)
  // -------------------------------------------------------------------

  /** Per-segment amplitude of the near-dup fixture's piecewise waveform:
    * doc `id`, segment `i` (0..56) plays at
    * `500 + 2·((w² mod 65519) mod 7900) + (i mod 2)` with
    * w = z² mod 65521, z = (48271·id + i + 1) mod 65521 — the
    * double-squared quadratic-entropy rule ([[nearTone]]'s construction
    * on the audio axis: the original linear `(13·id + 37·i) mod 64`
    * gave every doc ≡ id (mod 64) an IDENTICAL 56-bit profile, which
    * the curation capstone's doc-level funnel exposed as 499/500
    * spurious audio-dup drops; a single squaring still leaves a
    * mod-lattice — see [[nearTone]]), with the parity term
    * guaranteeing adjacent segments NEVER
    * tie (the variant-3 bit-flip proof needs it). 2× gain stays inside
    * a signed short (max 2·16 299 = 32 598). */
  private def nearAmp(id: Long, i: Int): Int = {
    val z = (id * 48271L + i + 1) % 65521L
    val w = (z * z) % 65521L
    (500L + 2L * (((w * w) % 65519L) % 7900L) + i % 2).toInt
  }

  /** Audio near-dup fixture: 57 equal segments of `m = 2 + id % 6`
    * frames each (n = 57·m), segment `i` at constant amplitude
    * [[nearAmp]] — so the 56-bit energy-profile fingerprint below is
    * CLOSED-FORM: bit i = amp(i) > amp(i+1). Seeded twins per doc
    * (audio_id = 4·doc_id + variant), each a duplicate class exact-PCM
    * identity provably misses:
    *  - variant 1 (doc % 3 = 0): RESAMPLED 2× — every frame doubled;
    *    window boundaries stay segment-aligned, so the fingerprint is
    *    IDENTICAL and the twin lands in the base's exact-fingerprint
    *    group (caught at the collapse stage);
    *  - variant 2 (doc % 4 = 0): GAIN 2× — amplitudes doubled; the
    *    fingerprint compares window energies cross-multiplied, so gain
    *    cancels and the twin collapses likewise;
    *  - variant 3 (doc % 5 = 0): NEAR twin — amplitudes of segments j
    *    and j+1 swapped (j = doc % 56): bit j provably flips (adjacent
    *    amps never tie) and only bits {j−1, j, j+1} can change, so the
    *    twin sits at Hamming 1–3 from its base — the pair the BANDED
    *    search must recover. */
  private def encodeWavNear(id: Long, variant: Int): Array[Byte] = {
    val (n, c) = wavNearParams(id, variant)
    val gain = if (variant == 2) 2 else 1
    val j = (id % 56).toInt
    val buf = pcmWav(n, c)
    var i = 0
    while (i < 57) {
      val seg = if (variant == 3) {
        if (i == j) j + 1 else if (i == j + 1) j else i
      } else i
      val v = (nearAmp(id, seg) * gain).toShort
      var f = 0
      while (f < n / 57) {
        var k = 0
        while (k < c) { buf.putShort(v); k += 1 }
        f += 1
      }
      i += 1
    }
    buf.array()
  }

  /** (frames, channels) of [[encodeWavNear]]'s payload: 57 segments of
    * m = 2 + id % 6 frames, doubled for the resampled variant 1. */
  private def wavNearParams(id: Long, variant: Int): (Int, Int) =
    (57 * (2 + id % 6).toInt * (if (variant == 1) 2 else 1),
      (1 + id % 2).toInt)

  /** Variants [[wavNearFixture]] emits for `id`: the base, then the
    * resampled (id % 3), gain (id % 4) and swap (id % 5) twins. */
  private def wavNearVariants(id: Long): Seq[Int] =
    0 +: Seq(1 -> 3, 2 -> 4, 3 -> 5).collect { case (v, m) if id % m == 0 => v }

  /** (audio_id, payload) rows [[wavNearFixture]] emits for `id`. */
  private[graft] def wavNearRows(id: Long): Seq[(Long, Array[Byte])] =
    wavNearVariants(id).map(v => (id * 4 + v, encodeWavNear(id, v)))

  /** Total payload bytes of [[wavNearRows]]`(id)`, from the encoder's
    * own frame and channel counts. */
  private[graft] def wavNearBytesOf(id: Long): Long =
    wavNearVariants(id).map(v => (wavBytes _).tupled(wavNearParams(id, v))).sum

  private[graft] def wavNearFixture(s: SparkSession, dir: String): String =
    payloadRows(s, dir, "mm_wavnear_fix", "audio_id",
      Some(wavNearBytesOf))(wavNearRows)

  /** 56-bit ENERGY-PROFILE fingerprint over decoded PCM: split the clip
    * into 57 equal time windows (⌊i·n/57⌋ boundaries — time-proportional,
    * so a resampled copy lands in the same windows), sum |sample| per
    * window in exact integers, and set bit i iff window i's mean
    * amplitude exceeds window i+1's — compared by INTEGER
    * cross-multiplication (sumᵢ·cntᵢ₊₁ > sumᵢ₊₁·cntᵢ), so gain scaling
    * and channel count cancel and no division ever happens. The audio
    * analogue of the image dHash (same 56-bit space, same banding): what
    * changes is the axis — time-ordered energy deltas instead of spatial
    * luma deltas. Sums fit long: ≤ 32767·2·799·2 ≈ 2·10⁸ per window,
    * cross-products ≤ 3·10¹¹. */
  private[graft] def audioFingerprint56(payload: Array[Byte]): Long = {
    val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(payload))
    val fmt = in.getFormat
    require(fmt.getSampleSizeInBits == 16 && !fmt.isBigEndian,
      s"unexpected PCM layout: $fmt")
    val c = fmt.getChannels
    val bytes = in.readAllBytes()
    in.close()
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val n = bytes.length / (2 * c)
    val x0 = Array.tabulate(58)(i => (i.toLong * n / 57).toInt)
    val sums = new Array[Long](57)
    var w = 0
    while (w < 57) {
      var s = 0L
      var f = x0(w)
      while (f < x0(w + 1)) {
        var k = 0
        while (k < c) { s += math.abs(bb.getShort((f * c + k) * 2).toInt); k += 1 }
        f += 1
      }
      sums(w) = s
      w += 1
    }
    var hash = 0L
    var i = 0
    while (i < 56) {
      val cl = (x0(i + 1) - x0(i)).toLong
      val cr = (x0(i + 2) - x0(i + 1)).toLong
      if (sums(i) * cr > sums(i + 1) * cl) hash |= 1L << i
      i += 1
    }
    hash
  }

  /** The near-dup fixture's audio fingerprints — real `javax.sound`
    * decode where the bytes are (no shuffle). Column named `phash` so
    * the banded candidate machinery is shared verbatim with the image
    * gates. */
  private[graft] def audioFingerprintFrame(s: SparkSession, dir: String): DataFrame = {
    val src = graft.sources.TableIO.readStatic(s, wavNearFixture(s, dir))
    val rows = src.rdd.mapPartitions(_.map { r =>
      Row(r.getLong(0), audioFingerprint56(r.getAs[Array[Byte]]("payload")))
    })
    s.createDataFrame(rows, StructType(Seq(
      StructField("audio_id", LongType),
      StructField("phash", LongType))))
  }

  /** q_mm_audio_neardup: PERCEPTUAL audio near-dup — the duplicate class
    * [[mmAudioDedup]]'s exact-PCM identity structurally misses: a
    * re-encoded copy (resampled 2×, gain-scaled) shares not one PCM
    * byte with its source, and a lightly edited one flips 1–3
    * fingerprint bits. Identical pipeline to q_mm_phash_neardup with the
    * image dHash swapped for the [[audioFingerprint56]] energy profile:
    * exact-fingerprint COLLAPSE (the resample/gain twins merge here —
    * visible as n_copies > 1 on their groups), tolerance-derived capped
    * BANDING, exact-Hamming VERIFY ≤ `maxHamming`. Every emitted pair is
    * a merge exact fingerprinting missed (hamming ≥ 1); the fixture
    * seeds such pairs via adjacent-segment swaps and the DuckDB oracle
    * replays fingerprint, collapse, banding, and Hamming closed-form
    * from the generator — a wrong decode, window split, or comparison
    * mismatches immediately. Scale shape: the fingerprint collapse is a
    * persisted per-sf-dir group table (one decode pass + one map-side-
    * combined exchange, paid at table build); the gate FileScans it and
    * runs the capped distinct-fingerprint band self-join — the exact
    * plan the image gate pins. */
  /** Persisted exact-hash GROUP table: the collapse stage (hash,
    * n_copies, canon) computed ONCE per sf dir — the
    * [[videoFrameTablePath]] decode-once discipline applied to the
    * image/audio near-dup families: previously every pair/cluster gate
    * re-ran the full payload decode, and a deployment decodes once and
    * every perceptual consumer reads the group table. The build pays the
    * real decode + one map-side-combined exchange; consumers pay a
    * FileScan (distinct-hash-sized — tiny next to the corpus). */
  private def hashGroupTable(s: SparkSession, dir: String, name: String)
                            (build: => DataFrame): DataFrame =
    graft.sources.TableIO.readStatic(s, graft.sources.ScratchDirs.persistedParquet(name, dir)(build))

  /** Persisted per-clip fingerprint table of the audio near-dup fixture
    * (audio_id, phash) — the [[phashHashTablePath]] contract on the
    * audio axis. */
  private[operators] def audioFpHashTablePath(s: SparkSession, dir: String): String =
    graft.sources.ScratchDirs.persistedParquet("mm_afph_fix", dir)(
      audioFingerprintFrame(s, dir))

  /** Exact-fingerprint groups of the audio near-dup fixture (the
    * collapse stage shared by the pair and cluster gates) — read from
    * the persisted per-sf-dir group table, itself derived from the
    * persisted fingerprint table (one decode pass total). */
  private[operators] def audioFpGroups(s: SparkSession, dir: String): DataFrame =
    hashGroupTable(s, dir, "mm_afpgrp_fix")(
      graft.sources.TableIO.readStatic(s, audioFpHashTablePath(s, dir))
        .groupBy("phash")
        .agg(count(lit(1)).as("n_copies"), min("audio_id").as("canon")))

  /** Persisted audio banded near-pair table (canon_a, canon_b) — the
    * [[phashPairTablePath]] contract on the audio fingerprint axis;
    * q_mm_audio_neardup stays the live certifying leg. */
  private[graft] def audioFpPairTablePath(s: SparkSession, dir: String): String =
    graft.sources.ScratchDirs.persistedParquet("mm_afprs_fix", dir)(
      // failOnDrop: see phashPairTablePath — the exact-pair-set contract.
      phashGroupPairs(audioFpGroups(s, dir), 3, capMetric = "audio_band_cap",
          failOnDrop = true)
        .select(col("canon_a"), col("canon_b")))

  /** Persisted audio cluster-LABEL table (canon, cluster_id) — the
    * [[phashClusterTablePath]] contract on the audio axis;
    * q_mm_audio_clusters stays the live certifying leg. */
  private[graft] def audioFpClusterTablePath(s: SparkSession, dir: String): String =
    graft.sources.ScratchDirs.persistedParquet("mm_afcc_fix", dir)(
      GraphCC.connectedComponents(
          graft.sources.TableIO.readStatic(s, audioFpPairTablePath(s, dir)), "canon_a", "canon_b",
          inputDistinctPairs = true)
        .select(col("node").as("canon"), col("component").as("cluster_id")))

  def mmAudioNeardup(s: SparkSession, dir: String,
                     maxHamming: Int = 3): DataFrame =
    phashGroupPairs(audioFpGroups(s, dir), maxHamming,
        capMetric = "audio_band_cap")
      .select(col("canon_a"), col("canon_b"), col("hamming"),
        col("n_a"), col("n_b"))

  /** q_mm_audio_clusters: the audio drop-list — near pairs closed into
    * CONNECTED COMPONENTS, one canonical per perceptual cluster (a chain
    * of light edits A~B~C merges even past the pairwise tolerance) —
    * [[mmPhashClusters]]'s closure applied to the audio fingerprint
    * graph via the shared [[hashGroupClusters]] stage. Oracle: the same
    * closed-form fingerprints → banding → Hamming pairs → recursive-CTE
    * transitive closure. */
  def mmAudioClusters(s: SparkSession, dir: String,
                      maxHamming: Int = 3): DataFrame =
    hashGroupClusters(audioFpGroups(s, dir), maxHamming, "cluster_audios",
      capMetric = "audio_band_cap")

  // -------------------------------------------------------------------
  // Temporal audio reuse (segment-SEQUENCE shingles)
  // -------------------------------------------------------------------

  /** Two-window amplitudes of segment `zi` of doc `id`'s splice fixture:
    * window k (k = 0 first half, 1 second half) plays at
    * 500 + ((w² mod 65519) mod 16000) with w = z² mod 65521 and
    * z = (71·id + 2·zi + k + 1) mod 65521 — the [[gridTone]]
    * double-squared reduced quadratic-entropy rule on the segment axis
    * (every factor < 65521, so nothing overflows at any corpus size),
    * so segment
    * signatures (two packed amplitudes ≈ 28 bits) make a shared 2-shingle
    * (4 amplitudes ≈ 56 bits) MEAN a shared segment run, not a
    * coincidence. Amplitudes stay in [500, 16499]: always audible (the
    * silence splitter never cuts inside a segment) and well inside a
    * signed short. */
  private def segAmp(id: Long, zi: Int, k: Int): Int = {
    val z = (id * 71 + 2L * zi + k + 1) % 65521L
    val w = (z * z) % 65521L
    (500L + ((w * w) % 65519L) % 16000L).toInt
  }

  /** Splice fixture payload: recording 2d plays ns = 10 + d % 5 segments
    * (segment i = segLen frames, first half at [[segAmp]](d, i, 0),
    * second half at segAmp(d, i, 1); segLen = 8 + 4·(d % 2), even so the
    * halves split exactly — and ns·segLen ≥ 98 frames keeps recordings
    * LONGER than the whole-clip fingerprint's 57 windows, where a
    * too-short clip's profile degenerates) separated by 2-frame
    * silences; for every
    * fourth doc a SPLICED twin 2d+1 EMBEDS the base's segments 1..ns−1
    * VERBATIM between one new head segment (zi = ns) and one new tail
    * segment (zi = ns + 1) — the clip-inside-a-longer-recording reuse
    * whole-clip fingerprints (q_mm_audio_neardup's axis) structurally
    * miss: the twin's 57-window energy profile shares nothing with the
    * base's, but every shared CONSECUTIVE segment pair survives, which
    * is what the temporal-shingle gate detects. */
  private def encodeWavSplice(id: Long, twin: Boolean): Array[Byte] = {
    val (zis, segLen, n, c) = wavSpliceParams(id, twin)
    val gap = wavSpliceGap
    val buf = pcmWav(n, c)
    zis.zipWithIndex.foreach { case (zi, pos) =>
      var f = 0
      while (f < segLen) {
        val v = segAmp(id, zi, if (f < segLen / 2) 0 else 1).toShort
        var k = 0
        while (k < c) { buf.putShort(v); k += 1 }
        f += 1
      }
      if (pos < zis.size - 1) {
        var g = 0
        while (g < gap * c) { buf.putShort(0); g += 1 }
      }
    }
    buf.array()
  }

  private val wavSpliceGap = 2

  /** (segment ids, segment frames, total frames, channels) of
    * [[encodeWavSplice]]'s recording: the segments plus a
    * [[wavSpliceGap]]-frame silence between neighbours. */
  private def wavSpliceParams(id: Long,
                              twin: Boolean): (Seq[Int], Int, Int, Int) = {
    val ns = (10 + id % 5).toInt
    val segLen = (8 + 4 * (id % 2)).toInt
    val zis: Seq[Int] =
      if (!twin) 0 until ns
      else Seq(ns) ++ (1 until ns) ++ Seq(ns + 1)
    (zis, segLen, zis.size * segLen + (zis.size - 1) * wavSpliceGap,
      (1 + id % 2).toInt)
  }

  /** Recordings [[wavSpliceFixture]] emits for `id`: the base, plus the
    * spliced twin for every fourth doc. */
  private def wavSpliceTwins(id: Long): Seq[Boolean] =
    if (id % 4 == 0) Seq(false, true) else Seq(false)

  /** (audio_id, payload) rows [[wavSpliceFixture]] emits for `id`. */
  private[graft] def wavSpliceRows(id: Long): Seq[(Long, Array[Byte])] =
    wavSpliceTwins(id).map(t =>
      (id * 2 + (if (t) 1 else 0), encodeWavSplice(id, t)))

  /** Total payload bytes of [[wavSpliceRows]]`(id)`, from the encoder's
    * own frame and channel counts. */
  private[graft] def wavSpliceBytesOf(id: Long): Long =
    wavSpliceTwins(id).map { t =>
      val (_, _, n, c) = wavSpliceParams(id, t)
      wavBytes(n, c)
    }.sum

  private[graft] def wavSpliceFixture(s: SparkSession, dir: String): String =
    payloadRows(s, dir, "mm_wavsplice_fix", "audio_id",
      Some(wavSpliceBytesOf))(wavSpliceRows)

  /** Persisted segment-SIGNATURE table of the splice fixture: real
    * `javax.sound` decode + in-loop silence segmentation (the
    * [[mmAudioSegments]] walk) + a 2-window integer energy profile per
    * segment, written once per sf dir — the decode-once discipline
    * ([[videoFrameTablePath]]) on the audio temporal axis. The signature
    * packs the two window means (exact integers — each window is a
    * constant-amplitude half, so the floor mean IS the amplitude; a
    * misaligned split lands between amplitudes and mismatches the
    * oracle) as mean₀ · 32768 + mean₁. */
  private[graft] def audioSegTablePath(s: SparkSession, dir: String): String =
    graft.sources.ScratchDirs.persistedParquet("mm_aseg_fix", dir) {
      val src = graft.sources.TableIO.readStatic(s, wavSpliceFixture(s, dir))
      val rows = src.rdd.mapPartitions(_.flatMap { row =>
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(row.getAs[Array[Byte]]("payload")))
        val c = in.getFormat.getChannels
        val bytes = in.readAllBytes()
        in.close()
        val bb = java.nio.ByteBuffer.wrap(bytes)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val frames = bytes.length / (2 * c)
        val segs = Vector.newBuilder[(Int, Int)] // [start, end) frame
        var segStart = -1
        var f = 0
        while (f < frames) {
          var silent = true
          var k = 0
          while (k < c && silent) {
            if (bb.getShort((f * c + k) * 2) != 0) silent = false
            k += 1
          }
          if (!silent && segStart < 0) segStart = f
          if (silent && segStart >= 0) { segs += ((segStart, f)); segStart = -1 }
          f += 1
        }
        if (segStart >= 0) segs += ((segStart, frames))
        val id = row.getAs[Long]("audio_id")
        segs.result().iterator.zipWithIndex.map { case ((s0, e0), i) =>
          val half = s0 + (e0 - s0) / 2
          var sum0 = 0L; var sum1 = 0L
          var ff = s0
          while (ff < e0) {
            var k = 0
            while (k < c) {
              val v = math.abs(bb.getShort((ff * c + k) * 2).toInt).toLong
              if (ff < half) sum0 += v else sum1 += v
              k += 1
            }
            ff += 1
          }
          val m0 = sum0 / ((half - s0).toLong * c)
          val m1 = sum1 / ((e0 - half).toLong * c)
          Row(id, i, m0 * 32768L + m1)
        }
      })
      s.createDataFrame(rows, StructType(Seq(
        StructField("audio_id", LongType),
        StructField("seg_idx", IntegerType),
        StructField("sig", LongType))))
    }

  /** q_mm_audio_clip_neardup: TEMPORAL audio reuse — detect a clip
    * EMBEDDED in a longer recording (re-broadcast with new intro/outro,
    * a sample spliced into a mix) by shingling each recording's
    * silence-split segment-signature SEQUENCE: the audio analogue of
    * [[mmVideoClipNeardup]], one level above whole-clip fingerprinting
    * (q_mm_audio_neardup compares 57 time-PROPORTIONAL windows, so
    * prepending one segment shifts every window and the fingerprints
    * share nothing — the seeded spliced twins here are exactly that
    * miss). Reuses the capped [[seqShinglePairs]] machinery verbatim on
    * the persisted segment table (decode + segmentation paid once —
    * [[audioSegTablePath]]); same 16-byte struct keys, same `maxDf`
    * degenerate-shingle cap, same shared-count + Jaccard scores. Oracle:
    * closed-form segment signatures → the same shingling → the same
    * pair scores, exactly. */
  def mmAudioClipNeardup(s: SparkSession, dir: String,
                         maxDf: Int = 1000): DataFrame =
    seqShinglePairs(graft.sources.TableIO.readStatic(s, audioSegTablePath(s, dir)),
        "audio_id", "seg_idx", "sig", maxDf, "audio_shingle_cap")
      .withColumnRenamed("id_a", "audio_a")
      .withColumnRenamed("id_b", "audio_b")

  /** q_mm_audio_features: partition-parallel REAL audio decode/feature
    * extraction — `javax.sound.sampled` WAV container parse + 16-bit PCM
    * read, then the standard audio-intake features (duration, peak,
    * mean absolute amplitude, zero-crossing count, energy) as exact
    * integers plus one IEEE division. The DuckDB oracle derives every
    * value in closed form from the square-wave generator
    * ([[audioParams]]), so a wrong container parse, endianness, channel
    * count, or sample loop mismatches immediately — the same
    * decode-certification contract as q_mm_decode_features, extended to
    * a second real modality. Scale shape: zero shuffle — decode runs
    * where the bytes are; at 100 TB this is the audio half of the
    * multimodal intake pass (language/music screen thresholds consume
    * exactly these features). */
  def mmAudioFeatures(s: SparkSession, dir: String): DataFrame = {
    val src = graft.sources.TableIO.readStatic(s, wavFixture(s, dir))
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("channels", IntegerType),
      StructField("sample_rate", IntegerType),
      StructField("n_frames", LongType),
      StructField("sum_abs", LongType),
      StructField("peak", LongType),
      StructField("zero_cross", LongType),
      StructField("energy", LongType)))
    val rows = src.rdd.mapPartitions(_.map { r =>
      val (c, sr, frames, sumAbs, peak, zc, energy) =
        decodeWav(r.getAs[Array[Byte]]("payload"))
      Row(r.getAs[Long]("doc_id"), c, sr, frames, sumAbs, peak, zc, energy)
    })
    s.createDataFrame(rows, schema)
      .withColumn("mean_abs", col("sum_abs").cast(DoubleType) /
        (col("n_frames") * col("channels")).cast(DoubleType))
  }

  // -------------------------------------------------------------------
  // Hamming-tolerance perceptual NEAR-dup (banded phash)
  // -------------------------------------------------------------------

  /** Tone of dHash cell (j, i) for image (`id`, `variant`):
    * `2·((w² mod 65519) mod 120) + (i mod 2)` with w = z² mod 65521 and
    * z = (48271·id + 9·j + i + 1) mod 65521 — the [[gridTone]]
    * quadratic-entropy rule hardened to a DOUBLE squaring through two
    * different primes (one squaring of a doc-LINEAR z leaves a lattice:
    * whenever 63·Δdoc·2 ≡ 0 mod the outer modulus, whole blocks shift by
    * a near-constant and two documents' hashes land within Hamming 3 —
    * measured 214 spurious near pairs over 500 docs; the second
    * squaring decorrelates any residual constant shift) WITH a parity
    * term, so (a)
    * the 56-bit hash carries full entropy (the original two-tones-per-row
    * raster left only ~1 informative bit per row — every doc with the
    * same 7 tone-order signs shared a hash, which the curation capstone's
    * doc-level funnel exposed as 498/500 spurious image-dup drops), and
    * (b) horizontally adjacent cells NEVER tie (parities differ), which
    * the variant bit-flip proof needs. The near-variant twin (variant 1,
    * emitted for id % 3 == 0) SWAPS the tones of cells (j0, i0) and
    * (j0, i0 + 1), j0 = id % 7, i0 = id % 8 — only that row's bits
    * i0−1, i0, i0+1 can change and bit i0 provably flips, so the twin
    * sits at Hamming 1–3 from its base: the "slightly re-compressed
    * copy" exact-equality grouping misses. */
  private def nearTone(id: Long, variant: Int, j: Int, i: Int): Int = {
    val si =
      if (variant == 1 && j == (id % 7).toInt) {
        val i0 = (id % 8).toInt
        if (i == i0) i0 + 1 else if (i == i0 + 1) i0 else i
      } else i
    val z = (id * 48271L + j * 9 + si + 1) % 65521L
    val w = (z * z) % 65521L
    (2L * (((w * w) % 65519L) % 120L) + si % 2).toInt
  }

  /** 7×9-grid raster aligned to the dHash grid (w = 9u, h = 7m), cell
    * (j, i) filled with [[nearTone]] — so the decoded 56-bit hash is
    * closed-form bit (j·8+i) = tone(j, i) > tone(j, i+1), cell by
    * cell. */
  private def encodePngBanded(id: Long, variant: Int): Array[Byte] = {
    import java.awt.image.BufferedImage
    val u = 1 + (id % 28).toInt
    val m = 3 + (id % 40).toInt
    val (w, h) = (9 * u, 7 * m)
    val gray = id % 2 == 0
    val img = new BufferedImage(w, h,
      if (gray) BufferedImage.TYPE_BYTE_GRAY else BufferedImage.TYPE_3BYTE_BGR)
    val raster = img.getRaster
    val bands = if (gray) 1 else 3
    var j = 0
    while (j < 7) {
      var i = 0
      while (i < 9) {
        val v = nearTone(id, variant, j, i)
        var y = j * m
        while (y < (j + 1) * m) {
          var x = i * u
          while (x < (i + 1) * u) {
            var k = 0
            while (k < bands) { raster.setSample(x, y, k, v); k += 1 }
            x += 1
          }
          y += 1
        }
        i += 1
      }
      j += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Grid-raster PNG fixture for the near-dup gate: one base image per
    * document (img_id = 2·doc_id) plus a 1-3-bit perturbed near-variant
    * twin (img_id = 2·doc_id + 1) for every third document — the seeded
    * near-pairs the banded search must recover. Distributed encode, same
    * read-only memoization contract as [[pngFixture]]. */
  private[operators] def pngNearFixture(s: SparkSession, dir: String): String =
    payloadRows(s, dir, "mm_pngnear_fix", "img_id") { id =>
      val base = id * 2 -> encodePngBanded(id, 0)
      if (id % 3 == 0) Seq(base, id * 2 + 1 -> encodePngBanded(id, 1))
      else Seq(base)
    }

  /** Decoded 56-bit dHash per payload of an (id, payload) fixture — real
    * `javax.imageio` decode where the bytes are (no shuffle). Shared by
    * both phash gates (and the near-dup spec). */
  private def dHashFrame(s: SparkSession, path: String, idCol: String): DataFrame = {
    val src = graft.sources.TableIO.readStatic(s, path)
    val hashSchema = StructType(Seq(
      StructField(idCol, LongType),
      StructField("phash", LongType)))
    val rows = src.rdd.mapPartitions(_.map { r =>
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("payload")))
      Row(r.getLong(0), dHash56(img))
    })
    s.createDataFrame(rows, hashSchema)
  }

  /** The near-dup fixture's image hashes. */
  private[graft] def phashFrame(s: SparkSession, dir: String): DataFrame =
    dHashFrame(s, pngNearFixture(s, dir), "img_id")

  /** q_mm_phash_neardup: Hamming-TOLERANT perceptual near-dup — the pass
    * [[mmPhashDedup]]'s exact-equality grouping structurally misses:
    * a re-compressed or slightly retouched copy flips 1-3 dHash bits and
    * lands in a different exact group. Same banding idea as
    * `Sketches.simhashPairs`, applied to the image hash space:
    *  1. COLLAPSE — group images by exact phash first (min img_id
    *     canonical, copy count). This is the cardinality guard: the
    *     candidate join below runs over DISTINCT hashes, never images,
    *     so a viral image with 10⁶ byte-distinct copies costs one group
    *     row, not 10¹² candidate pairs.
    *  2. BAND — split the 56-bit hash into `maxHamming + 1` bands (4
    *     bands × 14 bits at the default k = 3): by pigeonhole any pair
    *     within Hamming ≤ maxHamming agrees exactly on ≥ 1 band, so
    *     band-equality candidate generation is LOSSLESS at the requested
    *     tolerance — and no WIDER. Band count is derived from the
    *     tolerance rather than fixed at the 7 grid rows because the band
    *     key space is what bounds collision rates: 7×8-bit bands give
    *     only 1,792 (band, chunk) buckets, quadratic in distinct hashes
    *     at corpus scale, while 4×14-bit bands give 65,536 — ~64× fewer
    *     collisions per bucket for the same recall guarantee. Buckets
    *     above `maxBucket` are DROPPED before the self-join (the
    *     `Sketches.simhashPairs` production skew guard — flat images,
    *     letterboxes, and test patterns concentrate real dHash values),
    *     bounding any bucket's join cost at maxBucket²; the count rides
    *     the (band, chunk) exchange the join already pays, so the guard
    *     adds no shuffle. The cap never triggers at oracle scale
    *     (sf ≤ 0.1 buckets are orders of magnitude below it), so the
    *     DuckDB replay stays capless — the simhash precedent.
    *  3. VERIFY — exact Hamming distance (bit_count of xor) ≤
    *     `maxHamming` over the candidates.
    * Output: one row per near-pair of exact-phash GROUPS (canonical ids,
    * Hamming distance, group sizes) — hamming ≥ 1 by construction, i.e.
    * every emitted row is a merge that exact grouping missed. The fixture
    * seeds such pairs deterministically (see [[bandTones]]); the DuckDB
    * oracle derives every image's hash in closed form from the generator
    * and replays banding + Hamming, so a wrong decode, grid, band split,
    * or distance all mismatch. Scale shape: the collapse stage is a
    * PERSISTED per-sf-dir group table ([[hashGroupTable]] — the decode
    * and the hash groupBy run once, at table build, where the bytes
    * are); the gate is a FileScan of that table, the banding explode,
    * and the distinct-hash-sized band self-join (both sides read the
    * same banded exchange — ReusedExchange). */
  /** Persisted per-image hash table of the near-dup fixture (img_id,
    * phash) — the decode runs once, here; the group table and any
    * membership consumer (the curation capstone joins an attached image
    * to its group) read it back. */
  private[graft] def phashHashTablePath(s: SparkSession, dir: String): String =
    graft.sources.ScratchDirs.persistedParquet("mm_phnh_fix", dir)(
      phashFrame(s, dir))

  /** Exact-phash groups of the near-dup fixture (the collapse stage) —
    * read from the persisted per-sf-dir group table
    * ([[hashGroupTable]]), itself derived from the persisted hash table
    * (one decode pass total). */
  private[operators] def phashGroups(s: SparkSession, dir: String): DataFrame =
    hashGroupTable(s, dir, "mm_phgrp_fix")(
      graft.sources.TableIO.readStatic(s, phashHashTablePath(s, dir))
        .groupBy("phash")
        .agg(count(lit(1)).as("n_copies"), min("img_id").as("canon")))

  /** Persisted banded near-pair table of the image hash groups
    * (canon_a, canon_b) — the pair CLOSURE INPUT is itself a
    * multi-consumer curation artifact (the capstone's image edges, the
    * image cluster-label table below), so it is written once per sf dir
    * like the hash/group tables it derives from. q_mm_phash_neardup
    * stays the LIVE leg certifying the pair computation. */
  private[graft] def phashPairTablePath(s: SparkSession, dir: String): String =
    graft.sources.ScratchDirs.persistedParquet("mm_phprs_fix", dir)(
      // failOnDrop: downstream base-state replays filter this table by id
      // and assume it is EXACTLY the uncapped pair set — a firing cap
      // here must abort the build, not warn (the capless-oracle contract).
      phashGroupPairs(phashGroups(s, dir), 3, failOnDrop = true)
        .select(col("canon_a"), col("canon_b")))

  /** Persisted image cluster-LABEL table (canon, cluster_id) — the
    * txt_cc_fix discipline (GraphCC.clusterTablePath) applied to the
    * image axis: the pairs→clusters closure runs once per sf dir, off
    * the persisted pair table, and every consumer (the multimodal
    * curation capstone) pays a FileScan instead of a CC iteration.
    * q_mm_phash_clusters stays the LIVE leg certifying the closure. */
  private[graft] def phashClusterTablePath(s: SparkSession, dir: String): String =
    graft.sources.ScratchDirs.persistedParquet("mm_phcc_fix", dir)(
      GraphCC.connectedComponents(
          graft.sources.TableIO.readStatic(s, phashPairTablePath(s, dir)), "canon_a", "canon_b",
          inputDistinctPairs = true)
        .select(col("node").as("canon"), col("component").as("cluster_id")))

  /** Width of the image dHash and the audio energy-profile fingerprint,
    * the bit width every phash band join splits. */
  private[operators] val phashBits = 56

  /** Banded candidate generation + exact-Hamming verify over a
    * (phash, canon, n_copies) group frame — stages 2-3 of the near-dup
    * pipeline, shared by the pair and cluster gates of the image and
    * audio families: [[BandJoin]] over the 56-bit hash with the
    * `maxBucket` skew cap (`PhashNeardupSpec` pins both directions on a
    * degenerate fixture). */
  private[graft] def phashGroupPairs(grp: DataFrame, maxHamming: Int,
                                     maxBucket: Int = 100000,
                                     capMetric: String = "phash_band_cap",
                                     failOnDrop: Boolean = false): DataFrame =
    BandJoin.withinHamming(
        BandJoin.self(BandJoin.bands(
            grp.select(col("phash"), col("canon"), col("n_copies")),
            "phash", phashBits, maxHamming),
          Seq("band", "chunk"), col("a.phash") < col("b.phash"),
          Some(BandJoin.Cap(maxBucket, capMetric, failOnDrop))),
        "phash", maxHamming)
      .select(col("a.phash").as("ph_a"), col("b.phash").as("ph_b"),
        col("a.canon").as("canon_a"), col("b.canon").as("canon_b"),
        col("a.n_copies").as("n_a"), col("b.n_copies").as("n_b"),
        col("hamming"))
      .distinct()

  def mmPhashNeardup(s: SparkSession, dir: String, maxHamming: Int = 3): DataFrame =
    phashGroupPairs(phashGroups(s, dir), maxHamming)
      .select(col("canon_a"), col("canon_b"), col("hamming"),
        col("n_a"), col("n_b"))

  /** q_mm_phash_clusters: the full image-dedup scale path — exact-phash
    * collapse → banded near pairs → CONNECTED COMPONENTS → one canonical
    * representative per perceptual cluster (the same pairs→clusters
    * closure q_dedup_cc runs for text, applied to the image hash graph:
    * a chain of 1-2-bit re-encodes A~B~C merges into one cluster even
    * when A and C differ by more than the pairwise tolerance). Emits one
    * row per exact-phash GROUP that participates in a near relation:
    * cluster id (min reachable canon — deterministic), the group's copy
    * count, and per-cluster group/image totals — the drop-list input
    * (keep `cluster_id`'s group, drop the rest). The group table is
    * eagerly checkpointed so the decode pass runs ONCE for both the
    * pair edges and the size join (bounded: distinct hashes). Oracle:
    * closed-form hashes → the same banding/Hamming → recursive-CTE
    * transitive closure, the q_dedup_cc discipline. */
  def mmPhashClusters(s: SparkSession, dir: String, maxHamming: Int = 3): DataFrame =
    hashGroupClusters(phashGroups(s, dir), maxHamming, "cluster_images")

  /** Shared pairs→clusters closure over a (phash, canon, n_copies) group
    * frame: banded near pairs → checkpointed star-alternation CC → one
    * canonical per perceptual cluster with per-cluster totals — the
    * drop-list stage both the image and audio near-dup families end in.
    * The group frame arrives as a persisted table ([[hashGroupTable]]),
    * so the pair edges and the size join are two FileScans of a
    * distinct-hash-sized parquet — no checkpoint copy needed (and
    * GraphCC checkpoints its adjacency anyway, so pair generation runs
    * once, not once per CC round). */
  private def hashGroupClusters(groups: DataFrame, maxHamming: Int,
                                totalCol: String,
                                capMetric: String = "phash_band_cap"): DataFrame = {
    val pairs = phashGroupPairs(groups, maxHamming, capMetric = capMetric)
      .select("canon_a", "canon_b")
    val cc = GraphCC.connectedComponents(pairs, "canon_a", "canon_b",
      inputDistinctPairs = true) // distinct by (ph_a, ph_b), canon 1:1 phash
    val byCluster = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
    cc.select(col("node").as("canon"), col("component").as("cluster_id"))
      .join(groups.select(col("canon"), col("n_copies")), "canon")
      .withColumn("n_groups", count(lit(1)).over(byCluster))
      .withColumn(totalCol, sum(col("n_copies")).over(byCluster))
      .withColumn("is_canonical",
        when(col("canon") === col("cluster_id"), 1).otherwise(0))
      .select(col("canon"), col("cluster_id"), col("n_copies"),
        col("n_groups"), col(totalCol), col("is_canonical"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_mm_audio_features" -> (mmAudioFeatures _),
    "q_mm_audio_dedup" -> (mmAudioDedup _),
    "q_mm_audio_neardup" -> ((s: SparkSession, d: String) => mmAudioNeardup(s, d)),
    "q_mm_audio_clusters" -> ((s: SparkSession, d: String) => mmAudioClusters(s, d)),
    "q_mm_audio_clip_neardup" ->
      ((s: SparkSession, d: String) => mmAudioClipNeardup(s, d)),
    "q_mm_audio_segments" -> (mmAudioSegments _),
    "q_mm_video_frames" -> (mmVideoFrames _),
    "q_mm_video_frame_dedup" -> (mmVideoFrameDedup _),
    "q_mm_phash_neardup" -> ((s: SparkSession, d: String) => mmPhashNeardup(s, d)),
    "q_mm_phash_clusters" -> ((s: SparkSession, d: String) => mmPhashClusters(s, d)),
    "q_mm_phash_dedup" -> (mmPhashDedup _),
    "q_mm_video_stats" -> (mmVideoStats _),
    "q_mm_video_clip_neardup" ->
      ((s: SparkSession, d: String) => mmVideoClipNeardup(s, d)),
    "q_mm_video_curation" -> (mmVideoCuration _),
    "q_mm_binary_meta" -> (mmBinaryMeta _),
    "q_mm_decode_features" -> (mmDecodeFeatures _),
    "q_mm_frame_sample" -> ((s: SparkSession, d: String) => mmFrameSample(s, d)),
    "q_mm_resize" -> ((s: SparkSession, d: String) => mmResize(s, d)),
    "q_mm_dedup" -> (mmDedup _))

  /** Shared oracle CTEs: the clip fixture's frame sequences (base video
    * 2d = fids 31d+7f, f < nf; the trimmed re-upload twin), each frame's
    * grid-raster dHash closed-form (cells align with the 7×9 dHash grid,
    * bit (j·8+i) = tone(j,i) > tone(j,i+1), quadratic tones), then the
    * adjacent-pair temporal shingling and shared-shingle pair scores —
    * the prefix the clip-near-dup and video-curation oracles build on. */
  private[operators] val videoClipCtes: String =
    """p AS (SELECT doc_id, 3 + doc_id % 3 AS nf FROM documents),
      |vf AS (
      |  SELECT doc_id * 2 AS vid, i.range AS f,
      |      doc_id * 31 + 7 * i.range AS fid
      |    FROM p CROSS JOIN range(0, 5) i WHERE i.range < nf
      |  UNION ALL
      |  SELECT doc_id * 2 + 1, i.range - 1, doc_id * 31 + 7 * i.range
      |    FROM p CROSS JOIN range(1, 5) i
      |    WHERE doc_id % 4 = 0 AND i.range < nf
      |  UNION ALL
      |  SELECT doc_id * 2 + 1, nf - 1, doc_id * 31 + 7 * nf + 13
      |    FROM p WHERE doc_id % 4 = 0
      |  UNION ALL
      |  SELECT doc_id * 2 + 1, i.range, doc_id * 31 + 1
      |    FROM p CROSS JOIN range(0, 3) i WHERE doc_id % 4 = 2),
      |d0 AS (SELECT DISTINCT fid FROM vf),
      |cz AS (SELECT fid, j.range AS j, i.range AS i,
      |    (fid * 63 + j.range * 9 + i.range + 1) % 65521 AS z
      |  FROM d0 CROSS JOIN range(0, 7) j CROSS JOIN range(0, 9) i),
      |cw AS (SELECT fid, j, i, (z * z) % 65521 AS w FROM cz),
      |ctn AS (SELECT fid, j, i, ((w * w) % 65519) % 256 AS t FROM cw),
      |ph AS (SELECT l.fid, CAST(SUM(
      |    CASE WHEN l.t > r.t THEN 1::BIGINT << (l.j * 8 + l.i)
      |         ELSE 0 END) AS BIGINT) AS phash
      |  FROM ctn l JOIN ctn r
      |    ON l.fid = r.fid AND l.j = r.j AND r.i = l.i + 1
      |  GROUP BY l.fid),
      |sq AS (SELECT vf.vid, vf.f, ph.phash
      |  FROM vf JOIN ph ON vf.fid = ph.fid),
      |sh AS (SELECT DISTINCT l.vid, l.phash AS ph_a, r.phash AS ph_b
      |  FROM sq l JOIN sq r ON l.vid = r.vid AND r.f = l.f + 1),
      |sz AS (SELECT vid, COUNT(*) AS n_sh FROM sh GROUP BY vid),
      |pr AS (SELECT a.vid AS video_a, b.vid AS video_b,
      |    COUNT(*) AS n_shared
      |  FROM sh a JOIN sh b
      |    ON a.ph_a = b.ph_a AND a.ph_b = b.ph_b AND a.vid < b.vid
      |  GROUP BY 1, 2)""".stripMargin

  /** Shared oracle CTEs: closed-form energy-profile fingerprint of every
    * audio near-dup fixture variant, then collapse + 4×14-bit banding +
    * Hamming-verified group pairs — the prefix both the audio pair
    * gate's and the audio cluster gate's oracles build on. */
  private[operators] val audioFpCtes: String =
    """v AS (
      |  SELECT doc_id, 0 AS variant, doc_id * 4 AS audio_id FROM documents
      |  UNION ALL SELECT doc_id, 1, doc_id * 4 + 1 FROM documents
      |    WHERE doc_id % 3 = 0
      |  UNION ALL SELECT doc_id, 2, doc_id * 4 + 2 FROM documents
      |    WHERE doc_id % 4 = 0
      |  UNION ALL SELECT doc_id, 3, doc_id * 4 + 3 FROM documents
      |    WHERE doc_id % 5 = 0),
      |amp AS (SELECT audio_id, doc_id, i.range AS i,
      |    CASE WHEN variant = 3 AND i.range = doc_id % 56
      |           THEN doc_id % 56 + 1
      |         WHEN variant = 3 AND i.range = doc_id % 56 + 1
      |           THEN doc_id % 56
      |         ELSE i.range END AS seg
      |  FROM v CROSS JOIN range(0, 57) i),
      |az AS (SELECT audio_id, i, seg,
      |    (doc_id * 48271 + seg + 1) % 65521 AS z
      |  FROM amp),
      |aw AS (SELECT audio_id, i, seg, (z * z) % 65521 AS w FROM az),
      |a2 AS (SELECT audio_id, i,
      |    500 + 2 * (((w * w) % 65519) % 7900) + seg % 2 AS a
      |  FROM aw),
      |bits AS (SELECT l.audio_id,
      |    CASE WHEN l.a > r.a THEN 1::BIGINT << l.i ELSE 0 END AS bv
      |  FROM a2 l JOIN a2 r ON l.audio_id = r.audio_id AND r.i = l.i + 1),
      |fp AS (SELECT audio_id, CAST(SUM(bv) AS BIGINT) AS fh
      |  FROM bits GROUP BY audio_id),
      |grp AS (SELECT fh, CAST(COUNT(*) AS BIGINT) AS n_copies,
      |    MIN(audio_id) AS canon
      |  FROM fp GROUP BY fh),
      |banded AS (SELECT fh, canon, n_copies, b.range AS band,
      |    (fh >> CAST(b.range * 14 AS BIGINT)) & 16383 AS chunk
      |  FROM grp CROSS JOIN range(0, 4) b),
      |cand AS (SELECT DISTINCT a.fh AS fa, b.fh AS fb,
      |    a.canon AS canon_a, b.canon AS canon_b,
      |    a.n_copies AS n_a, b.n_copies AS n_b
      |  FROM banded a JOIN banded b
      |    ON a.band = b.band AND a.chunk = b.chunk AND a.fh < b.fh),
      |near AS (SELECT * FROM cand
      |  WHERE bit_count(xor(fa, fb)) <= 3)""".stripMargin

  /** Shared oracle CTEs: closed-form per-frame dHash of the video
    * fixture keyed by the frame pseudo-id — the prefix both frame-table
    * consumers (dedup, stats) build on. */
  private[operators] val videoPhashCtes: String =
    """p0 AS (SELECT doc_id, 2 + doc_id % 4 AS nf FROM documents),
      |fr AS (SELECT doc_id, doc_id * 31 + 7 * i.range AS fid
      |  FROM p0 CROSS JOIN range(0, 5) i WHERE i.range < nf),
      |p AS (SELECT doc_id, fid,
      |    8 + 2 * (fid % 150) AS w, (8 + 2 * (fid % 150)) // 2 AS hw,
      |    fid % 256 AS a, (fid * 7 + 31) % 256 AS b
      |  FROM fr),
      |bx AS (SELECT fid, a, b, hw, i.range AS i,
      |    (i.range * w) // 9 AS x0, ((i.range + 1) * w) // 9 AS x1
      |  FROM p CROSS JOIN range(0, 9) i),
      |bs AS (SELECT fid, i, x1 - x0 AS cx,
      |    a * LEAST(GREATEST(hw - x0, 0), x1 - x0)
      |      + b * (x1 - x0 - LEAST(GREATEST(hw - x0, 0), x1 - x0)) AS rs
      |  FROM bx),
      |bits AS (SELECT l.fid,
      |    CASE WHEN l.rs * r.cx > r.rs * l.cx THEN 1 << l.i ELSE 0 END AS bv
      |  FROM bs l JOIN bs r ON l.fid = r.fid AND r.i = l.i + 1),
      |ph AS (SELECT fid, CAST(SUM(bv) AS BIGINT) * 282578800148737 AS phash
      |  FROM bits GROUP BY fid)""".stripMargin

  /** Shared oracle CTEs: closed-form per-image hash of the near-dup
    * fixture (grid raster: cells align with the 7×9 dHash grid, bit
    * (j·8+i) = tone(j,i) > tone(j,i+1) with [[nearTone]]'s
    * quadratic-plus-parity tones, including the near-variant's one
    * swapped cell pair), then collapse + banding + Hamming-verified
    * group pairs — the prefix both the pair gate's and the cluster
    * gate's oracles build on. */
  private[operators] val phashPairCtes: String =
    """imgs AS (
      |  SELECT doc_id, 0 AS variant, doc_id * 2 AS img_id FROM documents
      |  UNION ALL
      |  SELECT doc_id, 1, doc_id * 2 + 1 FROM documents
      |  WHERE doc_id % 3 = 0),
      |cells AS (SELECT img_id, doc_id, variant, j.range AS j, i.range AS i,
      |    CASE WHEN variant = 1 AND j.range = doc_id % 7
      |           AND i.range = doc_id % 8 THEN doc_id % 8 + 1
      |         WHEN variant = 1 AND j.range = doc_id % 7
      |           AND i.range = doc_id % 8 + 1 THEN doc_id % 8
      |         ELSE i.range END AS si
      |  FROM imgs CROSS JOIN range(0, 7) j CROSS JOIN range(0, 9) i),
      |cz AS (SELECT img_id, j, i, si,
      |    (doc_id * 48271 + j * 9 + si + 1) % 65521 AS z
      |  FROM cells),
      |cw AS (SELECT img_id, j, i, si, (z * z) % 65521 AS w FROM cz),
      |ct AS (SELECT img_id, j, i,
      |    2 * (((w * w) % 65519) % 120) + si % 2 AS t
      |  FROM cw),
      |bits AS (SELECT l.img_id,
      |    CASE WHEN l.t > r.t
      |         THEN 1::BIGINT << (l.j * 8 + l.i) ELSE 0 END AS bv
      |  FROM ct l JOIN ct r
      |    ON l.img_id = r.img_id AND l.j = r.j AND r.i = l.i + 1),
      |ph AS (SELECT img_id, CAST(SUM(bv) AS BIGINT) AS phash
      |  FROM bits GROUP BY img_id),
      |grp AS (SELECT phash, CAST(COUNT(*) AS BIGINT) AS n_copies,
      |    MIN(img_id) AS canon
      |  FROM ph GROUP BY phash),
      |banded AS (SELECT phash, canon, n_copies, b.range AS band,
      |    (phash >> CAST(b.range * 14 AS BIGINT)) & 16383 AS chunk
      |  FROM grp CROSS JOIN range(0, 4) b),
      |cand AS (SELECT DISTINCT a.phash AS ph_a, b.phash AS ph_b,
      |    a.canon AS canon_a, b.canon AS canon_b,
      |    a.n_copies AS n_a, b.n_copies AS n_b
      |  FROM banded a JOIN banded b
      |    ON a.band = b.band AND a.chunk = b.chunk AND a.phash < b.phash),
      |near AS (SELECT * FROM cand
      |  WHERE bit_count(xor(ph_a, ph_b)) <= 3)""".stripMargin

  val oracles: Map[String, String] = Map(
    // Closed-form silence-split segmentation of the gapped waveform:
    // segment k spans frames [4kh, min((4k+3)h, n) - 1] for k < ceil(n/4h)
    // (the range(0,250) cover bound: n <= 1255, h >= 2 => k < 157).
    "q_mm_audio_segments" ->
      """WITH p AS (SELECT doc_id,
        |    256 + doc_id % 1000 AS n, 2 + doc_id % 30 AS h
        |  FROM documents),
        |segs AS (SELECT doc_id, k.range AS seg_idx,
        |    4 * k.range * h AS start_frame,
        |    LEAST((4 * k.range + 3) * h, n) - 1 AS end_frame
        |  FROM p CROSS JOIN range(0, 250) k
        |  WHERE 4 * k.range * h < n)
        |SELECT doc_id, CAST(seg_idx AS INTEGER) AS seg_idx,
        |  CAST(start_frame AS BIGINT) AS start_frame,
        |  CAST(end_frame AS BIGINT) AS end_frame,
        |  CAST(end_frame - start_frame + 1 AS BIGINT) AS n_frames
        |FROM segs""".stripMargin,
    // Group structure of the PCM-identity dedup in closed form: every
    // doc is its own PCM group AT ANY CORPUS SIZE (the fixture stamps
    // 14-bit doc-id slices into the first 4 frames — the raw parameter
    // lattice alone would repeat every 60 000 ids), with a re-containered
    // twin for doc % 5 == 0 — two copies, two DISTINCT containers (the
    // LIST/INFO bytes differ), one PCM.
    "q_mm_audio_dedup" ->
      """SELECT doc_id * 2 AS canonical_audio_id,
        |  CAST(CASE WHEN doc_id % 5 = 0 THEN 2 ELSE 1 END AS BIGINT)
        |    AS n_copies,
        |  CAST(CASE WHEN doc_id % 5 = 0 THEN 2 ELSE 1 END AS BIGINT)
        |    AS n_containers,
        |  CAST(256 + doc_id % 1000 AS BIGINT) AS n_frames
        |FROM documents""".stripMargin,
    // Closed-form energy-profile fingerprints of the piecewise fixture
    // (bit i = amp(i) > amp(i+1); the near variant swaps segments j, j+1;
    // resample/gain variants share the base fingerprint by construction),
    // then the same collapse -> 4x14-bit band -> Hamming<=3 replay as the
    // image near-dup oracle. The Spark leg must recover every fingerprint
    // from REAL decoded PCM for the pair set to match.
    "q_mm_audio_neardup" ->
      s"""WITH $audioFpCtes
        |SELECT canon_a, canon_b,
        |  CAST(bit_count(xor(fa, fb)) AS INTEGER) AS hamming, n_a, n_b
        |FROM near""".stripMargin,
    // Transitive closure over the audio near-pair canon graph — the
    // q_mm_phash_clusters recursive-CTE discipline on fingerprints.
    "q_mm_audio_clusters" ->
      s"""WITH RECURSIVE $audioFpCtes,
        |edges AS (
        |  SELECT canon_a AS s, canon_b AS d FROM near
        |  UNION SELECT canon_b, canon_a FROM near),
        |reach(node, r) AS (
        |  SELECT s, s FROM edges
        |  UNION
        |  SELECT e.s, r.r FROM edges e JOIN reach r ON e.d = r.node),
        |cc AS (SELECT node, MIN(r) AS cluster_id FROM reach GROUP BY node)
        |SELECT cc.node AS canon, cc.cluster_id, g.n_copies,
        |  COUNT(*) OVER (PARTITION BY cluster_id) AS n_groups,
        |  CAST(SUM(g.n_copies) OVER (PARTITION BY cluster_id) AS BIGINT)
        |    AS cluster_audios,
        |  CAST(CASE WHEN cc.node = cc.cluster_id THEN 1 ELSE 0 END AS INTEGER)
        |    AS is_canonical
        |FROM cc JOIN grp g ON cc.node = g.canon""".stripMargin,
    // Temporal audio reuse: the splice fixture's segment sequences in
    // closed form (base recording 2d = signature indices 0..ns-1; the
    // spliced twin embeds 1..ns-1 between new head/tail indices ns and
    // ns+1), each segment's packed 2-window signature from the quadratic
    // amplitude rule, then the SAME adjacent-pair shingling +
    // shared-shingle/Jaccard scoring the Spark leg computes from real
    // decoded + silence-split PCM.
    "q_mm_audio_clip_neardup" ->
      """WITH p AS (SELECT doc_id, 10 + doc_id % 5 AS ns FROM documents),
        |seg AS (
        |  SELECT doc_id, doc_id * 2 AS aid, i.range AS si, i.range AS zi
        |    FROM p CROSS JOIN range(0, 15) i WHERE i.range < ns
        |  UNION ALL
        |  SELECT doc_id, doc_id * 2 + 1, 0, ns FROM p WHERE doc_id % 4 = 0
        |  UNION ALL
        |  SELECT doc_id, doc_id * 2 + 1, i.range, i.range
        |    FROM p CROSS JOIN range(1, 15) i
        |    WHERE doc_id % 4 = 0 AND i.range < ns
        |  UNION ALL
        |  SELECT doc_id, doc_id * 2 + 1, ns, ns + 1 FROM p
        |    WHERE doc_id % 4 = 0),
        |sgz AS (SELECT aid, si,
        |    (doc_id * 71 + 2 * zi + 1) % 65521 AS z1,
        |    (doc_id * 71 + 2 * zi + 2) % 65521 AS z2
        |  FROM seg),
        |sgw AS (SELECT aid, si,
        |    (z1 * z1) % 65521 AS w1, (z2 * z2) % 65521 AS w2
        |  FROM sgz),
        |sg AS (SELECT aid, si,
        |    (500 + ((w1 * w1) % 65519) % 16000) * 32768
        |    + 500 + ((w2 * w2) % 65519) % 16000 AS sig
        |  FROM sgw),
        |sh AS (SELECT DISTINCT l.aid, l.sig AS ph_a, r.sig AS ph_b
        |  FROM sg l JOIN sg r ON l.aid = r.aid AND r.si = l.si + 1),
        |sz AS (SELECT aid, COUNT(*) AS n_sh FROM sh GROUP BY aid),
        |pr AS (SELECT a.aid AS audio_a, b.aid AS audio_b,
        |    COUNT(*) AS n_shared
        |  FROM sh a JOIN sh b
        |    ON a.ph_a = b.ph_a AND a.ph_b = b.ph_b AND a.aid < b.aid
        |  GROUP BY 1, 2)
        |SELECT audio_a, audio_b, CAST(n_shared AS BIGINT) AS n_shared,
        |  CAST(za.n_sh AS BIGINT) AS n_a, CAST(zb.n_sh AS BIGINT) AS n_b,
        |  CAST(n_shared AS DOUBLE)
        |    / CAST(za.n_sh + zb.n_sh - n_shared AS DOUBLE) AS jaccard
        |FROM pr JOIN sz za ON pr.audio_a = za.aid
        |  JOIN sz zb ON pr.audio_b = zb.aid""".stripMargin,
    // Closed-form features of the square-wave WAV generator
    // ([[audioParams]]): the Spark leg must RECOVER every value from a
    // real javax.sound container parse + PCM read.
    "q_mm_audio_features" ->
      """WITH p AS (SELECT doc_id,
        |    256 + doc_id % 1000 AS n,
        |    2 + doc_id % 30 AS h,
        |    1000 + (doc_id * 13) % 20000 AS a,
        |    1000 + (doc_id * 7 + 500) % 20000 AS b,
        |    1 + doc_id % 2 AS c
        |  FROM documents),
        |d AS (SELECT *, n // h AS q, n % h AS r FROM p),
        |e AS (SELECT *,
        |    ((q + 1) // 2) * h + CASE WHEN q % 2 = 0 THEN r ELSE 0 END AS cnta
        |  FROM d)
        |SELECT doc_id,
        |  CAST(c AS INTEGER) AS channels,
        |  CAST(8000 AS INTEGER) AS sample_rate,
        |  CAST(n AS BIGINT) AS n_frames,
        |  CAST(c * (cnta * a + (n - cnta) * b) AS BIGINT) AS sum_abs,
        |  CAST(GREATEST(a, b) AS BIGINT) AS peak,
        |  CAST((n - 1) // h AS BIGINT) AS zero_cross,
        |  CAST(c * (cnta * a * a + (n - cnta) * b * b) AS BIGINT) AS energy,
        |  CAST(c * (cnta * a + (n - cnta) * b) AS DOUBLE)
        |    / CAST(n * c AS DOUBLE) AS mean_abs
        |FROM e""".stripMargin,
    // Cross-video frame dedup: every frame's dHash in closed form (the
    // q_mm_phash_dedup two-band formula keyed by the frame pseudo-id,
    // which is globally unique: 31(d-d') = 7(f'-f) has no solution with
    // |f'-f| < 7 except identity), then the hash group/distinct-video
    // aggregation. The table build must really decode every frame.
    "q_mm_video_frame_dedup" ->
      s"""WITH $videoPhashCtes,
        |j AS (SELECT fr.doc_id, ph.phash FROM fr JOIN ph ON fr.fid = ph.fid)
        |SELECT phash, CAST(COUNT(*) AS BIGINT) AS n_frames,
        |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_videos,
        |  MIN(doc_id) AS canonical_doc_id
        |FROM j GROUP BY phash
        |HAVING COUNT(DISTINCT doc_id) >= 2""".stripMargin,
    // Temporal clip near-dup: the clip fixture's frame sequences in
    // closed form (base video 2d = fids 31d+7f, f < nf; the re-upload
    // twin drops frame 0, keeps 1..nf-1, appends fid 31d+7nf+13), each
    // frame's dHash closed-form from the GRID raster (cells align with
    // the 7x9 dHash grid, so bit (j*8+i) = tone(j,i) > tone(j,i+1) with
    // quadratic-hashed tones — full-entropy, ~unique hashes), then the SAME
    // adjacent-pair shingling + shared-shingle/Jaccard pair scoring the
    // Spark leg computes from real decoded pixels.
    "q_mm_video_clip_neardup" ->
      s"""WITH $videoClipCtes
        |SELECT video_a, video_b, CAST(n_shared AS BIGINT) AS n_shared,
        |  CAST(za.n_sh AS BIGINT) AS n_a, CAST(zb.n_sh AS BIGINT) AS n_b,
        |  CAST(n_shared AS DOUBLE)
        |    / CAST(za.n_sh + zb.n_sh - n_shared AS DOUBLE) AS jaccard
        |FROM pr JOIN sz za ON pr.video_a = za.vid
        |  JOIN sz zb ON pr.video_b = zb.vid""".stripMargin,
    // Full video drop-list: per-video frame stats + the clip pair set
    // folded into MULTI-REASON keep/drop decisions (drop the
    // non-canonical side of every detected clip pair AND every static
    // clip; a video failing both lists both, comma-joined — concat_ws
    // skips NULLs identically in both engines).
    "q_mm_video_curation" ->
      s"""WITH $videoClipCtes,
        |drops AS (SELECT DISTINCT video_b AS vid FROM pr),
        |st AS (SELECT vid, COUNT(*) AS n_frames,
        |    COUNT(DISTINCT phash) AS n_distinct
        |  FROM sq GROUP BY vid),
        |rs AS (SELECT st.vid, st.n_frames, st.n_distinct,
        |    concat_ws(',',
        |      CASE WHEN drops.vid IS NOT NULL THEN 'clip_dup' END,
        |      CASE WHEN st.n_distinct = 1 THEN 'static_clip' END)
        |      AS drop_reason
        |  FROM st LEFT JOIN drops ON st.vid = drops.vid)
        |SELECT vid AS video_id, CAST(n_frames AS BIGINT) AS n_frames,
        |  CAST(n_distinct AS BIGINT) AS n_distinct_frames,
        |  CAST(drop_reason = '' AS STRING) AS kept, drop_reason
        |FROM rs""".stripMargin,
    // Per-video frame-quality summary off the same closed-form frame
    // hashes + lumas ((a+b)/2 — exact halves, portable doubles).
    "q_mm_video_stats" ->
      s"""WITH $videoPhashCtes,
        |j AS (SELECT fr.doc_id, fr.fid, ph.phash,
        |    (CAST(fr.fid % 256 AS DOUBLE)
        |      + CAST((fr.fid * 7 + 31) % 256 AS DOUBLE)) / 2.0 AS luma
        |  FROM fr JOIN ph ON fr.fid = ph.fid)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_frames,
        |  CAST(COUNT(DISTINCT phash) AS BIGINT) AS n_distinct_frames,
        |  MIN(luma) AS min_luma, MAX(luma) AS max_luma,
        |  MAX(luma) - MIN(luma) AS luma_range,
        |  CAST(COUNT(DISTINCT phash) = 1 AS STRING) AS is_static
        |FROM j GROUP BY doc_id""".stripMargin,
    // Closed-form per-frame dims/channels/luma of the video generator:
    // frame f of doc d is the PNG raster for fid = d*31 + 7f, so the
    // image generator's closed forms apply keyed by (doc, frame). The
    // Spark leg must parse the container AND decode every frame.
    "q_mm_video_frames" ->
      """WITH p AS (SELECT doc_id, 2 + doc_id % 4 AS nf FROM documents),
        |f AS (SELECT doc_id, i.range AS fi, doc_id * 31 + 7 * i.range AS fid
        |  FROM p CROSS JOIN range(0, 5) i WHERE i.range < nf)
        |SELECT doc_id, CAST(fi AS INTEGER) AS frame_idx,
        |  CAST(8 + 2 * (fid % 150) AS INTEGER) AS width,
        |  CAST(8 + fid % 300 AS INTEGER) AS height,
        |  CAST(CASE WHEN fid % 2 = 0 THEN 1 ELSE 3 END AS INTEGER) AS channels,
        |  (CAST(fid % 256 AS DOUBLE) + CAST((fid * 7 + 31) % 256 AS DOUBLE))
        |    / 2.0 AS mean_luma
        |FROM f""".stripMargin,
    // Closed-form dHash-56 of the GRID fixture ([[encodePngBanded]]):
    // cells align with the 7×9 dHash grid (w = 9u, h = 7m), so bit
    // (j·8+i) = tone(j,i) > tone(j,i+1) with the quadratic-plus-parity
    // tones — including the near-variant's one swapped cell pair.
    // The oracle then replays the collapse → 4×14-bit band →
    // exact-Hamming pipeline (the k = 3 tolerance's banding; capless —
    // the bucket cap cannot trigger at oracle scale); the Spark leg must
    // recover every hash from real decoded pixels for the pair set to
    // match.
    "q_mm_phash_neardup" ->
      s"""WITH $phashPairCtes
        |SELECT canon_a, canon_b,
        |  CAST(bit_count(xor(ph_a, ph_b)) AS INTEGER) AS hamming, n_a, n_b
        |FROM near""".stripMargin,
    // Transitive closure over the near-pair canon graph — the q_dedup_cc
    // recursive-CTE discipline applied to image hash groups.
    "q_mm_phash_clusters" ->
      s"""WITH RECURSIVE $phashPairCtes,
        |edges AS (
        |  SELECT canon_a AS s, canon_b AS d FROM near
        |  UNION SELECT canon_b, canon_a FROM near),
        |reach(node, r) AS (
        |  SELECT s, s FROM edges
        |  UNION
        |  SELECT e.s, r.r FROM edges e JOIN reach r ON e.d = r.node),
        |cc AS (SELECT node, MIN(r) AS cluster_id FROM reach GROUP BY node)
        |SELECT cc.node AS canon, cc.cluster_id, g.n_copies,
        |  COUNT(*) OVER (PARTITION BY cluster_id) AS n_groups,
        |  CAST(SUM(g.n_copies) OVER (PARTITION BY cluster_id) AS BIGINT)
        |    AS cluster_images,
        |  CAST(CASE WHEN cc.node = cc.cluster_id THEN 1 ELSE 0 END AS INTEGER)
        |    AS is_canonical
        |FROM cc JOIN grp g ON cc.node = g.canon""".stripMargin,
    // Closed-form dHash-56 of the generator's two-band rasters: the y
    // grid cancels from every cross-multiplied mean comparison (columns
    // are y-uniform), all 7 rows repeat one byte, and channel count
    // divides out — so the hash is a pure integer function of
    // (width, a, b). The Spark leg must recover it from real pixels.
    "q_mm_phash_dedup" ->
      """WITH p AS (SELECT doc_id,
        |    8 + 2 * (doc_id % 150) AS w,
        |    (8 + 2 * (doc_id % 150)) // 2 AS hw,
        |    doc_id % 256 AS a, (doc_id * 7 + 31) % 256 AS b
        |  FROM documents),
        |bx AS (SELECT doc_id, a, b, hw, i.range AS i,
        |    (i.range * w) // 9 AS x0, ((i.range + 1) * w) // 9 AS x1
        |  FROM p CROSS JOIN range(0, 9) i),
        |bs AS (SELECT doc_id, i, x1 - x0 AS cx,
        |    a * LEAST(GREATEST(hw - x0, 0), x1 - x0)
        |      + b * (x1 - x0 - LEAST(GREATEST(hw - x0, 0), x1 - x0)) AS rs
        |  FROM bx),
        |bits AS (SELECT l.doc_id,
        |    CASE WHEN l.rs * r.cx > r.rs * l.cx THEN 1 << l.i ELSE 0 END AS bv
        |  FROM bs l JOIN bs r ON l.doc_id = r.doc_id AND r.i = l.i + 1),
        |ph AS (SELECT doc_id, CAST(SUM(bv) AS BIGINT) * 282578800148737 AS phash
        |  FROM bits GROUP BY doc_id)
        |SELECT phash, CAST(COUNT(*) AS BIGINT) AS n_copies,
        |  MIN(doc_id) AS canonical_doc_id
        |FROM ph GROUP BY phash""".stripMargin,
    "q_mm_dedup" ->
      """WITH h AS (SELECT doc_id, sha256(text) AS sha256,
        |    CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes
        |  FROM documents),
        |a AS (SELECT sha256, COUNT(*) AS n_copies,
        |    MIN(doc_id) AS canonical_doc_id,
        |    CAST(MAX(n_bytes) AS BIGINT) AS n_bytes
        |  FROM h GROUP BY sha256)
        |SELECT sha256, n_copies, canonical_doc_id, n_bytes,
        |  (n_copies - 1) * n_bytes AS dup_bytes
        |FROM a""".stripMargin,
    "q_mm_binary_meta" ->
      """SELECT doc_id,
        |  CAST(octet_length(CAST(text AS BLOB)) AS INTEGER) AS n_bytes,
        |  sha256(text) AS sha256,
        |  substring(to_base64(CAST(text AS BLOB)), 1, 12) AS head_b64
        |FROM documents""".stripMargin,
    // The fixture generator's closed forms (encodePng): the Spark leg
    // must RECOVER these values by genuinely decoding the PNG payloads —
    // a hash match certifies the real javax.imageio decode round-trips
    // the known rasters exactly.
    "q_mm_decode_features" ->
      """SELECT doc_id,
        |  CAST(8 + 2 * (doc_id % 150) AS INTEGER) AS width,
        |  CAST(8 + (doc_id % 300) AS INTEGER) AS height,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS INTEGER) AS channels,
        |  (CAST(doc_id % 256 AS DOUBLE)
        |    + CAST((doc_id * 7 + 31) % 256 AS DOUBLE)) / 2.0 AS mean_luma
        |FROM documents""".stripMargin,
    // Byte-window sampling replayed on VARCHAR: the corpus is ASCII, so
    // DuckDB's character substr equals the byte slice and sha256(VARCHAR)
    // hashes the same bytes Spark's sha2(BINARY) does.
    "q_mm_frame_sample" ->
      """WITH d AS (SELECT doc_id, text,
        |    CAST(octet_length(CAST(text AS BLOB)) AS INTEGER) AS n_bytes
        |  FROM documents),
        |f AS (SELECT d.*, i.range AS frame_idx FROM d CROSS JOIN range(0, 4) i),
        |w AS (SELECT doc_id, frame_idx, (frame_idx * n_bytes) // 4 AS off,
        |    substr(text, CAST((frame_idx * n_bytes) // 4 + 1 AS BIGINT), 16) AS frame
        |  FROM f)
        |SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,
        |  CAST(off AS INTEGER) AS offset,
        |  CAST(octet_length(CAST(frame AS BLOB)) AS INTEGER) AS frame_bytes,
        |  sha256(frame) AS frame_sha
        |FROM w""".stripMargin,
    // Closed-form re-decode of the REAL resized payload: the fixture's
    // two-tone columns make each output column's floor-mean an exact
    // rational of the tone split (vx below), the y boxes cancel by
    // y-uniformity, and the final mean is one IEEE division of exact
    // integers — identical to what the Spark leg measures off the pixels
    // of the PNG it actually emitted.
    "q_mm_resize" ->
      """WITH p AS (SELECT doc_id,
        |    8 + 2 * (doc_id % 150) AS w, 8 + (doc_id % 300) AS h,
        |    (8 + 2 * (doc_id % 150)) // 2 AS hw,
        |    doc_id % 256 AS a, (doc_id * 7 + 31) % 256 AS b,
        |    CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS c
        |  FROM documents),
        |d AS (SELECT *, (w > 256 OR h > 256) AS needs,
        |    CASE WHEN NOT (w > 256 OR h > 256) THEN w
        |         WHEN w >= h THEN 256 ELSE (w * 256) // h END AS w2,
        |    CASE WHEN NOT (w > 256 OR h > 256) THEN h
        |         WHEN w >= h THEN (h * 256) // w ELSE 256 END AS h2
        |  FROM p),
        |cols AS (SELECT doc_id, hw, a, b, x.range AS x,
        |    (x.range * w) // w2 AS x0, ((x.range + 1) * w) // w2 AS x1
        |  FROM d CROSS JOIN range(0, 256) x WHERE x.range < w2),
        |v AS (SELECT doc_id,
        |    (a * LEAST(GREATEST(hw - x0, 0), x1 - x0)
        |      + b * (x1 - x0 - LEAST(GREATEST(hw - x0, 0), x1 - x0)))
        |      // (x1 - x0) AS vx
        |  FROM cols),
        |sv AS (SELECT doc_id, CAST(SUM(vx) AS BIGINT) AS sx
        |  FROM v GROUP BY doc_id)
        |SELECT d.doc_id, CAST(w AS INTEGER) AS width,
        |  CAST(h AS INTEGER) AS height,
        |  CAST(w2 AS INTEGER) AS out_width, CAST(h2 AS INTEGER) AS out_height,
        |  CAST(needs AS STRING) AS resized,
        |  CAST(c AS INTEGER) AS out_channels,
        |  CAST(h2 * c * sx AS DOUBLE) / CAST(w2 * h2 * c AS DOUBLE)
        |    AS out_mean_luma
        |FROM d JOIN sv ON d.doc_id = sv.doc_id""".stripMargin)
}
