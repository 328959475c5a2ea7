package graft.multimodal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing for training-data pipelines: media as
  * opaque `binary` columns + typed metadata, with batch feature
  * extraction via mapPartitions (the Scala analog of arrow-batched
  * Python UDFs: per-partition decoder init, row-batch processing).
  *
  * The IMAGE path is real: `javax.imageio` ships in the JDK, so
  * [[synthesizePngs]]/[[decodeImageStats]] run an actual PNG
  * encode→decode round trip with a per-partition `ImageReader` that is
  * acquired once, reused across the partition's rows, and disposed when
  * the iterator drains — the exact lifecycle a native codec handle
  * needs. Codecs the JDK lacks (audio resample, video frame sampling)
  * stay STUBBED with a deterministic digest-based fake, clearly marked
  * below; everything Spark-side is real and tested either way.
  */
object Multimodal {

  /** Per-partition PNG decode context — owns the codec-handle lifecycle
    * and every buffer once allocated per row (measured, SURVEY.md
    * round 6 ScaleSmoke: per-image cost drifted 72→102 µs across
    * 20k→320k images from allocation/GC pressure):
    *
    *  - ONE `ImageReader` for the partition (as before);
    *  - a memory-backed `ImageInputStream` per row, constructed
    *    directly — `ImageIO.createImageInputStream` consults
    *    `ImageIO.getUseCache()` (default TRUE) and routes every image
    *    through a fresh temp FILE on disk;
    *  - bulk `getRGB` into ONE recycled `int[]` — the per-pixel
    *    `getRGB(x, y)` path allocates a raster transfer object per
    *    PIXEL on the interleaved rasters `PNGImageReader` produces,
    *    while the bulk overload allocates one per call and writes into
    *    the array we hand it.
    *
    * Pixel VALUES are unchanged (both paths convert through the same
    * `ColorModel.getRGB`), so every oracle replay is unaffected.
    * Call [[close]] when the partition drains.
    */
  private final class PngCodec(onInit: () => Unit = () => ()) {
    private var reader: javax.imageio.ImageReader = null
    private var pixBuf: Array[Int] = Array.emptyIntArray
    // recycled decode destination: corpora are dominated by one frame
    // geometry, so the same BufferedImage can absorb row after row
    // (ImageReadParam.setDestination) instead of reader.read allocating
    // a fresh raster per row. Reused only while dimensions repeat;
    // falls back to a plain read if the reader rejects the destination.
    private var dest: java.awt.image.BufferedImage = null
    private var destOk = true

    def decode(bytes: Array[Byte]): java.awt.image.BufferedImage = {
      if (reader == null) {
        reader = javax.imageio.ImageIO
          .getImageReadersByFormatName("png").next()
        onInit()
      }
      val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        reader.setInput(iis)
        if (destOk) {
          val w = reader.getWidth(0)
          val h = reader.getHeight(0)
          if (dest == null || dest.getWidth != w || dest.getHeight != h)
            dest = new java.awt.image.BufferedImage(w, h,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
          val param = reader.getDefaultReadParam
          param.setDestination(dest)
          try reader.read(0, param)
          catch {
            case _: javax.imageio.IIOException |
                 _: IllegalArgumentException =>
              // reader refused the destination (e.g. non-RGB color
              // type) — disable reuse for this partition and re-read
              destOk = false
              dest = null
              reader.setInput(new javax.imageio.stream
                .MemoryCacheImageInputStream(
                  new java.io.ByteArrayInputStream(bytes)))
              reader.read(0)
          }
        } else reader.read(0)
      } finally iis.close()
    }

    /** Row-major ARGB pixels of `img`. The returned array is REUSED
      * across calls (and may be longer than w·h) — consume before the
      * next decode, never retain.
      */
    def rgb(img: java.awt.image.BufferedImage): Array[Int] = {
      val w = img.getWidth
      val n = w * img.getHeight
      if (pixBuf.length < n) pixBuf = new Array[Int](n)
      img.getRGB(0, 0, w, img.getHeight, pixBuf, 0, w)
      pixBuf
    }

    def close(): Unit =
      if (reader != null) { reader.dispose(); reader = null }
  }

  /** Per-partition PNG encode context — `ImageIO.write` per row does a
    * writer-SPI lookup, constructs a fresh `ImageWriter`, AND routes
    * the output through a disk-backed temp file (`getUseCache`, same
    * default as the input side). One writer per partition + a
    * memory-backed output stream per row. Bytes are identical (same
    * `PNGImageWriter`, same default params). Call [[close]] when the
    * partition drains.
    */
  private final class PngEncoder {
    private var writer: javax.imageio.ImageWriter = null
    private val buf = new java.io.ByteArrayOutputStream()

    def encode(img: java.awt.image.BufferedImage): Array[Byte] = {
      if (writer == null)
        writer = javax.imageio.ImageIO
          .getImageWritersByFormatName("png").next()
      buf.reset()
      val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(buf)
      try {
        writer.setOutput(ios)
        writer.write(img)
        ios.flush()
      } finally ios.close()
      buf.toByteArray
    }

    def close(): Unit =
      if (writer != null) { writer.dispose(); writer = null }
  }

  /** Map `it` through `f`, closing `resources` when the iterator
    * drains — the shared per-partition codec-lifecycle shape.
    */
  private def mapWithClose[A, B](it: Iterator[A], close: () => Unit)(
      f: A => B): Iterator[B] = {
    val mapped = it.map(f)
    new Iterator[B] {
      override def hasNext: Boolean = {
        val more = mapped.hasNext
        if (!more) close()
        more
      }
      override def next(): B = mapped.next()
    }
  }

  /** Demo binary table: documents' text bytes as media payloads with a
    * metadata struct — the schema a real pipeline would carry for
    * image/audio blobs (modality, byte size, content hash).
    */
  def asBinaryTable(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(
      col(idCol).as("media_id"),
      encode(col(textCol), "UTF-8").as("content"),
      struct(
        lit("text-bytes").as("modality"),
        octet_length(col(textCol)).as("n_bytes"),
        md5(col(textCol)).as("content_md5")).as("meta"))

  /** STUB — media decode. A real deployment decodes the codec here
    * (e.g. JPEG → pixel array) with a per-partition native handle; this
    * container has no media libraries, so a deterministic MD5-digest
    * expansion stands in. The signature and batch shape are the real
    * contract.
    */
  private def decodeStub(bytes: Array[Byte], dim: Int,
      md: java.security.MessageDigest): Array[Float] = {
    md.reset()
    val digest = md.digest(bytes)
    Array.tabulate(dim)(i => (digest(i % digest.length).toInt & 0xff) / 255.0f)
  }

  /** Batch feature extraction over binary content: one decoder instance
    * per partition (the expensive-init pattern of real codecs), rows
    * streamed through it. Output: (media_id, features array<float>).
    */
  def extractFeatures(media: DataFrame, dim: Int = 16): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, bytes) => (id, decodeStub(bytes, dim, md)) }
      }
      .toDF("media_id", "features")
  }

  /** Deterministic synthetic RGB image per row — channel values are pure
    * integer arithmetic in (id, x, y), so a SQL oracle can recompute any
    * statistic of the DECODED pixels without an image library (PNG is
    * lossless). Encoding runs on executors via `javax.imageio`.
    */
  def synthesizePngs(ids: DataFrame, idCol: String = "doc_id",
      w: Int = 8, h: Int = 8): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    ids.select(col(idCol).cast("long")).as[Long].mapPartitions { it =>
      // fixed dims across the partition: one frame + staging array,
      // fully overwritten per row (bulk setRGB avoids per-pixel calls)
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val px = new Array[Int](w * h)
      val enc = new PngEncoder
      mapWithClose(it, () => enc.close()) { id =>
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val r = ((id * 31 + x * 7 + y * 13) % 256).toInt
            val g = ((id * 17 + x * 3 + y * 5) % 256).toInt
            val b = ((id * 11 + x + y) % 256).toInt
            px(y * w + x) = (r << 16) | (g << 8) | b
            x += 1
          }
          y += 1
        }
        img.setRGB(0, 0, w, h, px, 0, w)
        (id, enc.encode(img))
      }
    }.toDF("media_id", "content")
  }

  /** Synthetic RGB images WITH NEAR-DUPLICATE STRUCTURE: pixel content
    * is driven by the row's GROUP (`id % groups`) — same closed-form
    * integer arithmetic as [[synthesizePngs]], column-blocked so the
    * per-column-group sums differ across groups — plus a one-pixel
    * per-row nudge (`id % 5` added to the red channel at (0,0)), so
    * rows of one group decode to near-identical-but-not-equal images.
    * The downstream embedding/near-dup pipeline then has real work to
    * do, and a SQL oracle can still recompute every DECODED pixel
    * (PNG is lossless).
    */
  def synthesizeGroupedPngs(ids: DataFrame, idCol: String = "doc_id",
      groups: Int = 16, w: Int = 8, h: Int = 8): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    val g = groups
    ids.select(col(idCol).cast("long")).as[Long].mapPartitions { it =>
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val px = new Array[Int](w * h)
      val enc = new PngEncoder
      mapWithClose(it, () => enc.close()) { id =>
        val gid = id % g
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            var r = ((gid * 37 + (x / 2) * 53 + y * 29) % 256).toInt
            val gr = ((gid * 91 + (x / 2) * 17 + y * 43) % 256).toInt
            val b = ((gid * 53 + (x / 2) * 11 + y * 7) % 256).toInt
            if (x == 0 && y == 0) r = ((r + id % 5) % 256).toInt
            px(y * w + x) = (r << 16) | (gr << 8) | b
            x += 1
          }
          y += 1
        }
        img.setRGB(0, 0, w, h, px, 0, w)
        (id, enc.encode(img))
      }
    }.toDF("media_id", "content")
  }

  /** REAL decode → EMBEDDING: the bridge from binary media columns into
    * the similarity stack ([[graft.similarity.SemDedup]] /
    * [[graft.similarity.Ann]]). Per-partition reader lifecycle as in
    * [[decodeImageStats]]; the embedding is the integer-exact
    * per-channel column-group pixel sums — `3 * colGroups` dims laid
    * out [r-groups..., g-groups..., b-groups...] — cast to float
    * (sums ≤ 255·w·h are exact in float32, so downstream cosine math
    * is bit-reproducible by a SQL oracle replaying the pixel formula).
    */
  def decodeImageEmbedding(media: DataFrame, colGroups: Int = 4): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val cg = colGroups
    media.select(col("media_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val codec = new PngCodec
        new Iterator[(Long, Array[Float])] {
          override def hasNext: Boolean = {
            val more = it.hasNext
            if (!more) codec.close()
            more
          }
          override def next(): (Long, Array[Float]) = {
            val (id, bytes) = it.next()
            val img = codec.decode(bytes)
            val w = img.getWidth
            val h = img.getHeight
            val gw = math.max(1, w / cg)
            val px = codec.rgb(img)
            val sums = Array.ofDim[Long](3 * cg)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val grp = math.min(cg - 1, x / gw)
                val p = px(y * w + x)
                sums(grp) += (p >> 16) & 0xff
                sums(cg + grp) += (p >> 8) & 0xff
                sums(2 * cg + grp) += p & 0xff
                x += 1
              }
              y += 1
            }
            (id, sums.map(_.toFloat))
          }
        }
      }
      .toDF("media_id", "embedding")
  }

  /** REAL image decode: per-partition `ImageReader` handle (acquired
    * once, reset per row via a fresh ImageInputStream, disposed when the
    * partition drains — the native-codec lifecycle), per-image pixel
    * statistics out. Output: (media_id, width, height, sum_red,
    * sum_green, sum_blue) with integer-exact channel sums.
    *
    * @param readerInits optional accumulator bumped once per reader
    *   instantiation — lets a spec pin "one decoder per partition, not
    *   per row".
    */
  def decodeImageStats(media: DataFrame,
      readerInits: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val codec = new PngCodec(() => readerInits.foreach(_.add(1L)))
        new Iterator[(Long, Int, Int, Long, Long, Long)] {
          override def hasNext: Boolean = {
            val more = it.hasNext
            if (!more) codec.close()
            more
          }
          override def next(): (Long, Int, Int, Long, Long, Long) = {
            val (id, bytes) = it.next()
            val img = codec.decode(bytes)
            val w = img.getWidth
            val h = img.getHeight
            val px = codec.rgb(img)
            val n = w * h
            var sr = 0L; var sg = 0L; var sb = 0L
            var i = 0
            while (i < n) {
              val p = px(i)
              sr += (p >> 16) & 0xff
              sg += (p >> 8) & 0xff
              sb += p & 0xff
              i += 1
            }
            (id, w, h, sr, sg, sb)
          }
        }
      }
      .toDF("media_id", "width", "height", "sum_red", "sum_green", "sum_blue")
  }

  /** REAL perceptual hash (average hash / aHash, the classic
    * im2hash recipe — public): decode, per-pixel integer luma
    * `gray = r + g + b` (0..765, no weights — keeps every comparison
    * integer-exact), bit i (row-major, i = y·w + x) set iff
    * `gray_i · n > Σ gray` — strict multiply-compare, no division, so
    * the 64-bit pattern is bit-reproducible by a SQL oracle replaying
    * the pixel formula. Emitted as two 32-bit halves in BIGINT columns
    * (`ahash_hi`/`ahash_lo`): a single signed 64-bit hash would need
    * bit 63, and `1L << 63` is sign-trap territory across engines.
    * Images larger than 64 px should be [[resizeImages]]-downsampled
    * to 8×8 first (the standard aHash pipeline); the hash covers the
    * first 64 pixels, `require`-guarded.
    *
    * Per-partition reader lifecycle as in [[decodeImageStats]].
    * Output: (media_id, width, height, ahash_hi, ahash_lo).
    */
  // shared aHash core: decode one PNG and fold the bit pattern —
  // (width, height, hi, lo); reused by the image and video-keyframe
  // fingerprints so the two stay bit-identical by construction
  private def aHashOf(codec: PngCodec, png: Array[Byte]): (Int, Int, Long, Long) = {
    val img = codec.decode(png)
    val w = img.getWidth
    val h = img.getHeight
    val n = w * h
    require(n <= 64,
      s"aHash covers at most 64 pixels; resize ${w}x$h first")
    val px = codec.rgb(img)
    var total = 0L
    var i = 0
    while (i < n) {
      val p = px(i)
      total += ((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)
      i += 1
    }
    var hi = 0L; var lo = 0L
    i = 0
    while (i < n) {
      val p = px(i)
      val gray = ((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)
      if (gray.toLong * n > total) {
        if (i < 32) lo |= 1L << i else hi |= 1L << (i - 32)
      }
      i += 1
    }
    (w, h, hi, lo)
  }

  def withAverageHash(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val codec = new PngCodec()
        mapWithClose(it, () => codec.close()) { case (id, bytes) =>
          val (w, h, hi, lo) = aHashOf(codec, bytes)
          (id, w, h, hi, lo)
        }
      }
      .toDF("media_id", "width", "height", "ahash_hi", "ahash_lo")
  }

  /** Video KEYFRAME perceptual hash: parse the container, decode frame
    * 0 only (the cheap industry-standard first pass for video dedup —
    * full-sequence matching only runs on keyframe-hash candidates),
    * and emit the same aHash columns as [[withAverageHash]], so
    * [[perceptualDedup]] composes for video exactly as for images and
    * audio. Scale shape: per-row container parse + ONE frame decode
    * regardless of video length — the other frames' bytes are skipped,
    * never decoded. Output: (media_id, n_frames, ahash_hi, ahash_lo).
    */
  def withVideoKeyframeHash(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val codec = new PngCodec()
        mapWithClose(it, () => codec.close()) { case (id, bytes) =>
          val bb = java.nio.ByteBuffer.wrap(bytes)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          val magic = new Array[Byte](4)
          bb.get(magic)
          require(new String(magic, "US-ASCII") == "GVID",
            s"bad container magic for media $id")
          val nFrames = bb.getInt
          require(nFrames > 0, s"empty video container for media $id")
          val len = bb.getInt
          val png = new Array[Byte](len)
          bb.get(png)
          val (_, _, hi, lo) = aHashOf(codec, png)
          (id, nFrames.toLong, hi, lo)
        }
      }
      .toDF("media_id", "n_frames", "ahash_hi", "ahash_lo")
  }

  /** Perceptual image dedup over the [[withAverageHash]] columns,
    * shaped for 100 TB: NOTHING here ever materializes a row pair.
    *
    *  - Hash groups reduce to (hash, min id) — one keyed shuffle over
    *    the corpus; within-group losers come from that grouping, not a
    *    self-join.
    *  - At `maxHamming = 0` each group's min id survives directly.
    *  - At `maxHamming 1..3` the closure runs in HASH space: the
    *    distinct-hash table (orders of magnitude below the corpus —
    *    the 64-bit perceptual space collapses duplicates by design)
    *    packs (hi, lo) into one 64-bit signature and runs the
    *    pigeonhole-COMPLETE block scheme
    *    ([[graft.dedup.Dedup.simhashNearDuplicatesComplete]] — the
    *    same Manku–Jain–Sarma machinery as q195, block count sized to
    *    the distinct-hash count): every hash pair within the ball
    *    surfaces from exactly one block-union equi-join — XOR-mask
    *    enumeration, the previous Hamming-1 design, stops being
    *    viable past distance 1 (C(64,2) = 2016 masks); the block
    *    scheme's join count is C(numBlocks, d), independent of the
    *    ball volume. [[graft.dedup.Components]] closes those
    *    HASH-node edges (node id = the group's min row id), and a row
    *    survives iff its id is its cluster's overall min. The corpus
    *    is touched twice: once to hash-group, once for the final
    *    loser anti-join.
    *
    * Ownership: the loser pin of [[graft.dedup.Components.withoutLosers]],
    * released by `close()`.
    *
    * @param hashed output of [[withAverageHash]] (or anything with
    *               idCol/ahash_hi/ahash_lo)
    */
  def perceptualDedup(hashed: DataFrame, idCol: String = "media_id",
      maxHamming: Int = 0): graft.dedup.Dedup.NearDupResult = {
    require(maxHamming >= 0 && maxHamming <= 3,
      "maxHamming 0..3 (wider balls: compose rounds or coarsen the hash)")
    val groups = hashed.groupBy(col("ahash_hi"), col("ahash_lo"))
      .agg(min(col(idCol)).as("__gid"))
    // a row loses iff it is not its hash group's representative
    def losers(repOf: DataFrame): DataFrame = hashed
      .join(repOf.select(col("ahash_hi"), col("ahash_lo"), col("__rep")),
        Seq("ahash_hi", "ahash_lo"))
      .filter(col(idCol) =!= col("__rep"))
      .select(col(idCol))
    if (maxHamming == 0)
      graft.dedup.Components.withoutLosers(hashed, idCol,
        losers(groups.withColumn("__rep", col("__gid"))))
    else {
      // the two 32-bit halves pack losslessly into bits 0..63; all
      // downstream block arithmetic is shiftrightunsigned + masks,
      // so bit 63 (pixel 63) never meets signed-shift semantics.
      // Both halves are masked to their stated 32 bits first: the
      // input contract is "anything with idCol/ahash_hi/ahash_lo",
      // and a caller-supplied frame with wider halves would
      // otherwise bleed hi bits across the OR and merge unrelated
      // signatures
      val m32 = lit(0xFFFFFFFFL)
      val sigs = groups.select(col("__gid"),
        shiftleft(col("ahash_hi").bitwiseAND(m32), 32)
          .bitwiseOR(col("ahash_lo").bitwiseAND(m32)).as("sig"))
      val edges = graft.dedup.Dedup.simhashNearDuplicatesComplete(
          sigs, "__gid", maxDistance = maxHamming, bits = 64)
        .select(col("id_a"), col("id_b"))
      graft.dedup.Components.dropLosers(hashed, idCol, edges) { m =>
        losers(groups.join(
            m.select(col("id").as("__gid"), col("rep").as("__rep0")),
            Seq("__gid"), "left")
          .withColumn("__rep", coalesce(col("__rep0"), col("__gid"))))
      }
    }
  }

  /** REAL image resize: decode (per-partition reader lifecycle as in
    * [[decodeImageStats]]), nearest-neighbor resample to `outW`×`outH`
    * with the floor mapping srcX = x·srcW/outW — explicit integer
    * arithmetic rather than Graphics2D interpolation so every output
    * pixel is exactly reproducible by an oracle — then re-encode PNG.
    * Output: (media_id, src_w, src_h, out_w, out_h, content,
    * sum_red, sum_green, sum_blue) where the sums are integer-exact
    * channel totals of the RESIZED pixels (the oracle surface; the
    * re-encoded bytes are for downstream, PNG encoder output is not
    * canonical across implementations).
    */
  def resizeImages(media: DataFrame, outW: Int, outH: Int): DataFrame = {
    require(outW > 0 && outH > 0, "target dims must be positive")
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val codec = new PngCodec
        val enc = new PngEncoder
        // the resized frame and its pixel staging array are fixed-size
        // across the partition — allocate once, overwrite fully per row
        val out = new java.awt.image.BufferedImage(outW, outH,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        val outBuf = new Array[Int](outW * outH)
        mapWithClose(it, () => { codec.close(); enc.close() }) {
          case (id, bytes) =>
            val src = codec.decode(bytes)
            val sw = src.getWidth
            val sh = src.getHeight
            val srcPx = codec.rgb(src)
            var sr = 0L; var sg = 0L; var sb = 0L
            var y = 0
            while (y < outH) {
              val sy = (y.toLong * sh / outH).toInt
              var x = 0
              while (x < outW) {
                val sx = (x.toLong * sw / outW).toInt
                val p = srcPx(sy * sw + sx)
                outBuf(y * outW + x) = p
                sr += (p >> 16) & 0xff
                sg += (p >> 8) & 0xff
                sb += p & 0xff
                x += 1
              }
              y += 1
            }
            out.setRGB(0, 0, outW, outH, outBuf, 0, outW)
            (id, sw, sh, outW, outH, enc.encode(out), sr, sg, sb)
        }
      }
      .toDF("media_id", "src_w", "src_h", "out_w", "out_h", "content",
        "sum_red", "sum_green", "sum_blue")
  }

  /** Deterministic synthetic WAV (RIFF/PCM16LE mono) per row — WAV is a
    * codec-less container, so the AUDIO modality can be fully real in
    * the JDK: samples are pure integer arithmetic in (id, i), the
    * canonical 44-byte header is written by hand (byte-deterministic),
    * and [[decodeAudioStats]] parses it back through the actual
    * `javax.sound.sampled` API. Sample count varies per id
    * (1000 + (id mod 7)·100) so the last analysis window is partial —
    * the edge a fixed-size fixture would never exercise.
    */
  def synthesizeWavs(ids: DataFrame, idCol: String = "doc_id",
      sampleRate: Int = 16000): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    ids.select(col(idCol).cast("long")).as[Long].map { id =>
      val n = (1000 + (id % 7) * 100).toInt
      val bytes = new Array[Byte](44 + 2 * n)
      val bb = java.nio.ByteBuffer.wrap(bytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + 2 * n)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(1) // PCM, mono
        .putInt(sampleRate).putInt(sampleRate * 2)
        .putShort(2).putShort(16) // block align, bits
        .put("data".getBytes("US-ASCII")).putInt(2 * n)
      var i = 0
      while (i < n) {
        bb.putShort((((id * 31 + i.toLong * 7) % 2003) - 1001).toShort)
        i += 1
      }
      (id, bytes)
    }.toDF("media_id", "content")
  }

  /** REAL audio decode + windowed energy analysis: each payload goes
    * through `javax.sound.sampled.AudioSystem` (actual RIFF header
    * parse — sample rate, channels and sample width come from the
    * decoded `AudioFormat`, not from assumptions), PCM samples are
    * windowed into `windowSamples`-sample frames, and each frame gets
    * integer-exact energy features: sum of |sample|, max |sample|, and
    * rising zero crossings (the classic voice-activity-detection
    * trio — all integer arithmetic, so a SQL oracle can replay them
    * from the generation formula). Output: one row per (media_id,
    * window_index).
    */
  def decodeAudioStats(media: DataFrame, windowSamples: Int = 256): DataFrame = {
    require(windowSamples > 0, "windowSamples must be positive")
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(bytes))
          try {
            val fmt = ais.getFormat
            require(fmt.getSampleSizeInBits == 16 && !fmt.isBigEndian,
              s"expected PCM16LE, got $fmt")
            val pcm = ais.readAllBytes()
            val nSamples = pcm.length / (2 * fmt.getChannels)
            val sb = java.nio.ByteBuffer.wrap(pcm)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN).asShortBuffer()
            val nWindows = (nSamples + windowSamples - 1) / windowSamples
            (0 until nWindows).map { w =>
              val start = w * windowSamples
              val end = math.min(nSamples, start + windowSamples)
              var sumAbs = 0L; var maxAbs = 0L; var rising = 0L
              var i = start
              while (i < end) {
                val v = sb.get(i * fmt.getChannels).toLong
                val a = math.abs(v)
                sumAbs += a
                if (a > maxAbs) maxAbs = a
                if (i > start && sb.get((i - 1) * fmt.getChannels) < 0 && v >= 0)
                  rising += 1
                i += 1
              }
              (id, w, end - start, fmt.getSampleRate.toInt,
                fmt.getChannels, sumAbs, maxAbs, rising)
            }
          } finally ais.close()
        }
      }
      .toDF("media_id", "window_index", "n_samples", "sample_rate",
        "channels", "sum_abs", "max_abs", "n_rising")
  }

  /** REAL audio fingerprint (energy-delta hash — the windowed-energy
    * sign pattern behind classic audio-matching fingerprints, public
    * recipe): decode through `javax.sound.sampled` (actual RIFF
    * parse), window the PCM stream into `windowSamples`-sample frames,
    * per-window integer energy Σ|sample|, and bit i (i ≤ 62) set iff
    * `energy(i+1) > energy(i)` — strict integer comparison, so the
    * pattern is bit-reproducible by a SQL oracle replaying the sample
    * formula. Emitted under the SAME column names as
    * [[withAverageHash]] (`ahash_hi`/`ahash_lo`, two 32-bit halves),
    * so [[perceptualDedup]] composes directly for audio dedup at
    * Hamming 0/1 with the identical zero-row-pairs shape.
    *
    * Output: (media_id, n_windows, ahash_hi, ahash_lo).
    */
  def withAudioFingerprint(media: DataFrame,
      windowSamples: Int = 16): DataFrame = {
    require(windowSamples > 0, "windowSamples must be positive")
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(bytes))
          try {
            val fmt = ais.getFormat
            require(fmt.getSampleSizeInBits == 16 && !fmt.isBigEndian,
              s"expected PCM16LE, got $fmt")
            val pcm = ais.readAllBytes()
            val nSamples = pcm.length / (2 * fmt.getChannels)
            val sb = java.nio.ByteBuffer.wrap(pcm)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN).asShortBuffer()
            val nWindows = (nSamples + windowSamples - 1) / windowSamples
            val energy = new Array[Long](nWindows)
            var i = 0
            while (i < nSamples) {
              energy(i / windowSamples) +=
                math.abs(sb.get(i * fmt.getChannels).toLong)
              i += 1
            }
            var hi = 0L; var lo = 0L
            var w = 0
            while (w < nWindows - 1 && w <= 62) {
              if (energy(w + 1) > energy(w)) {
                if (w < 32) lo |= 1L << w else hi |= 1L << (w - 32)
              }
              w += 1
            }
            (id, nWindows.toLong, hi, lo)
          } finally ais.close()
        }
      }
      .toDF("media_id", "n_windows", "ahash_hi", "ahash_lo")
  }

  /** Deterministic synthetic multi-frame "video" per row: a minimal
    * length-prefixed container (magic `GVID`, LE frame count, then
    * per-frame LE length + a REAL PNG) holding 4..8 frames whose pixels
    * are integer arithmetic in (id, frame, x, y). Container parsing and
    * per-frame codec decode are both real; PNG losslessness keeps every
    * sampled pixel oracle-replayable.
    */
  def synthesizeVideos(ids: DataFrame, idCol: String = "doc_id",
      w: Int = 8, h: Int = 8): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    ids.select(col(idCol).cast("long")).as[Long].mapPartitions { it =>
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val px = new Array[Int](w * h)
      val enc = new PngEncoder
      mapWithClose(it, () => enc.close()) { id =>
        val nFrames = (4 + id % 5).toInt
        val out = new java.io.ByteArrayOutputStream()
        val dos = new java.io.DataOutputStream(out)
        dos.write("GVID".getBytes("US-ASCII"))
        dos.writeInt(Integer.reverseBytes(nFrames))
        var f = 0
        while (f < nFrames) {
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val r = ((id * 31 + f * 19 + x * 7 + y * 13) % 256).toInt
              val g = ((id * 17 + f * 23 + x * 3 + y * 5) % 256).toInt
              val b = ((id * 11 + f * 29 + x + y) % 256).toInt
              px(y * w + x) = (r << 16) | (g << 8) | b
              x += 1
            }
            y += 1
          }
          img.setRGB(0, 0, w, h, px, 0, w)
          val png = enc.encode(img)
          dos.writeInt(Integer.reverseBytes(png.length))
          dos.write(png)
          f += 1
        }
        (id, out.toByteArray)
      }
    }.toDF("media_id", "content")
  }

  /** REAL video frame sampling: parse the container, decode every
    * `everyNth`-th frame with the per-partition `ImageReader` lifecycle
    * (the decodeImageStats contract), and emit one row per SAMPLED
    * frame with integer-exact channel sums — the keyframe-extraction
    * shape of real video feature pipelines. Output: (media_id,
    * frame_index, n_frames, sum_red, sum_green, sum_blue).
    */
  def sampleVideoFrames(media: DataFrame, everyNth: Int = 2): DataFrame = {
    require(everyNth > 0, "everyNth must be positive")
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val codec = new PngCodec
        val flat = it.flatMap { case (id, bytes) =>
          val bb = java.nio.ByteBuffer.wrap(bytes)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          val magic = new Array[Byte](4)
          bb.get(magic)
          require(new String(magic, "US-ASCII") == "GVID",
            s"bad container magic for media $id")
          val nFrames = bb.getInt
          (0 until nFrames).flatMap { f =>
            val len = bb.getInt
            val png = new Array[Byte](len)
            bb.get(png)
            if (f % everyNth != 0) None
            else {
              val img = codec.decode(png)
              val w = img.getWidth
              val n = w * img.getHeight
              val px = codec.rgb(img)
              var sr = 0L; var sg = 0L; var sb = 0L
              var i = 0
              while (i < n) {
                val p = px(i)
                sr += (p >> 16) & 0xff
                sg += (p >> 8) & 0xff
                sb += p & 0xff
                i += 1
              }
              Some((id, f, nFrames, sr, sg, sb))
            }
          }
        }
        // dispose the shared codec when the partition drains
        new Iterator[(Long, Int, Int, Long, Long, Long)] {
          override def hasNext: Boolean = {
            val more = flat.hasNext
            if (!more) codec.close()
            more
          }
          override def next(): (Long, Int, Int, Long, Long, Long) = flat.next()
        }
      }
      .toDF("media_id", "frame_index", "n_frames",
        "sum_red", "sum_green", "sum_blue")
  }

  /** Frame sampling plumbing: split a payload into fixed-size "frames"
    * (the video analog) and emit one row per sampled frame — the
    * row-explosion shape of real frame extraction, with the decode
    * stubbed to byte-slicing.
    */
  def sampleFrames(media: DataFrame, frameBytes: Int = 64,
      everyNth: Int = 4): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        val nFrames = math.max(1, bytes.length / frameBytes)
        (0 until nFrames by everyNth).map { f =>
          val start = f * frameBytes
          val frame = bytes.slice(start, math.min(bytes.length, start + frameBytes))
          (id, f, frame.length)
        }
      }
      .toDF("media_id", "frame_index", "frame_bytes")
  }
}
