package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Multimodal columns for training-data pipelines: image/audio/video
  * travel as opaque `binary` columns with typed metadata, processed
  * per-partition so a real decoder amortizes library init across a
  * batch of rows. TWO codec arms share the Spark plumbing (schema,
  * batch shape, partition parallelism, bounded task memory):
  *
  *  - a STUB arm (deterministic integer functions of the payload
  *    bytes) for the synthetic fixture corpus and its DuckDB-replayable
  *    oracle gates — also the honest stand-in for codecs with no JDK
  *    implementation (audio/video containers);
  *  - a REAL image arm over JDK ImageIO (PNG/JPEG/GIF/BMP, no new
  *    dependency): header-only metadata probe, full decode + integer
  *    box-average resize, and color-layout feature extraction.
  */
object Multimodal {

  /** Typed metadata a decoder would emit. */
  final case class MediaMeta(media_id: Long, n_bytes: Long, format: String,
                             width: Int, height: Int, n_frames: Int)

  /** One extracted feature row: fixed-dim float features per media. */
  final case class MediaFeatures(media_id: Long, n_bytes: Long,
                                 features: Array[Float])

  /** STUB decode — deterministic fake metadata derived from the bytes.
    * A real implementation calls the codec here (per partition, one
    * decoder instance per task, rows streamed through it).
    */
  private[multimodal] def decodeStub(id: Long, data: Array[Byte]): MediaMeta = {
    val h = java.util.Arrays.hashCode(data)
    val fmt = (math.floorMod(h, 3)) match {
      case 0 => "jpeg"; case 1 => "png"; case _ => "webp"
    }
    MediaMeta(id, data.length.toLong, fmt,
      width = 64 + math.floorMod(h >> 2, 1024),
      height = 64 + math.floorMod(h >> 12, 1024),
      n_frames = 1)
  }

  /** STUB featurize — a deterministic fake embedding of the raw bytes
    * (a real implementation runs the vision/audio model on the decoded
    * batch). Keeps the real batch shape: one `mapPartitions` pass,
    * features of fixed dimension.
    */
  private[multimodal] def featurizeStub(data: Array[Byte], dim: Int): Array[Float] = {
    val out = new Array[Float](dim)
    var i = 0
    var h = 1125899906842597L
    while (i < data.length) { h = 31 * h + data(i); i += 1 }
    var j = 0
    while (j < dim) {
      val v = h * (j * 2654435761L + 40503L)
      out(j) = (math.floorMod(v, 2000001L) - 1000000L).toFloat / 1000000.0f
      j += 1
    }
    out
  }

  /** Sum of the payload's UNSIGNED byte values — the scalar compare
    * surface for binary outputs: the differential harness cannot
    * sort/hash raw binary columns, and (unlike a crc) an unsigned byte
    * sum is reproducible in the DuckDB oracle with pure integer
    * arithmetic over the fixture text's code points.
    */
  def byteSumUnsigned(data: Array[Byte]): Long = {
    var s = 0L
    var i = 0
    while (i < data.length) { s += data(i) & 0xFF; i += 1 }
    s
  }

  // ---- DuckDB oracle twins of the stub codecs ------------------------
  //
  // The fixture media payload is the UTF-8 bytes of ASCII `documents
  // .text`, so every stub above is a deterministic integer function of
  // the text's code points — which DuckDB can replay exactly:
  // `java.util.Arrays.hashCode` is a 31-polynomial over signed bytes in
  // wrapping Int32 (list_reduce mod 2^32, re-signed), the featurize
  // hash is the same shape in wrapping Int64 (HUGEINT mod 2^64), and
  // Java's `>>` on the signed hash is floor division by 4 / 4096.

  /** Code points of an ASCII text expression, as a DuckDB list. */
  def codesSql(t: String): String =
    s"list_transform(string_split($t, ''), c -> unicode(c))"

  /** Signed Int32 `Arrays.hashCode` over a codes-list expression. */
  def h32Sql(codes: String): String = {
    val u = s"list_reduce(list_prepend(CAST(1 AS BIGINT), $codes), (a, x) -> (a * 31 + x) % 4294967296)"
    s"(CASE WHEN $u >= 2147483648 THEN $u - 4294967296 ELSE $u END)"
  }

  /** [[decodeStub]] width from a signed-h32 expression. */
  def widthSql(h32: String): String =
    s"(64 + ((CAST(floor($h32 / 4.0) AS BIGINT) % 1024) + 1024) % 1024)"

  /** [[decodeStub]] height from a signed-h32 expression. */
  def heightSql(h32: String): String =
    s"(64 + ((CAST(floor($h32 / 4096.0) AS BIGINT) % 1024) + 1024) % 1024)"

  /** [[decodeStub]] format label from a signed-h32 expression. */
  def formatSql(h32: String): String =
    s"(CASE (($h32 % 3) + 3) % 3 WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png' ELSE 'webp' END)"

  /** [[featurizeStub]] feature 0 in integer millionths (the exact
    * surface: `round(features[0] * 1e6)` on the Spark side recovers
    * this integer losslessly from the float).
    */
  def f0MillionthsSql(codes: String): String = {
    val h64u = s"list_reduce(list_prepend(CAST(1125899906842597 AS HUGEINT), $codes), " +
      "(a, x) -> (a * 31 + x) % 18446744073709551616)"
    val vU = s"(($h64u * 40503) % 18446744073709551616)"
    val vS = s"(CASE WHEN $vU >= 9223372036854775808 THEN $vU - 18446744073709551616 ELSE $vU END)"
    s"CAST((($vS % 2000001 + 2000001) % 2000001 - 1000000) AS BIGINT)"
  }

  /** Decode metadata for a (id, binary) DataFrame — per-partition map,
    * no shuffle; decoder init amortized per task.
    */
  def decodeMeta(spark: SparkSession, media: DataFrame,
                 idCol: String, dataCol: String): Dataset[MediaMeta] = {
    import spark.implicits._
    media.selectExpr(s"CAST($idCol AS BIGINT)", dataCol).as[(Long, Array[Byte])]
      .mapPartitions { rows => rows.map { case (id, data) => decodeStub(id, data) } }
  }

  /** Feature extraction for a (id, binary) DataFrame. */
  def extractFeatures(spark: SparkSession, media: DataFrame,
                      idCol: String, dataCol: String,
                      dim: Int = 64): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.selectExpr(s"CAST($idCol AS BIGINT)", dataCol).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, data) =>
          MediaFeatures(id, data.length.toLong, featurizeStub(data, dim))
        }
      }
  }

  /** One feature row from the BATCHED path, carrying which batch the
    * row rode in (`batch_seq` within its task, `batch_size` of that
    * batch) so tests can assert the delivery shape.
    */
  final case class BatchedFeatures(media_id: Long, n_bytes: Long,
                                   features: Array[Float],
                                   batch_seq: Int, batch_size: Int)

  /** Feature extraction with FIXED-SIZE batch delivery — the shape a
    * model server actually wants (this is Scala's analog of a Pandas
    * UDF over `mapInPandas`: rows arrive in bounded batches, not one
    * by one and not a whole partition at once). One "model" init per
    * task, one stubbed inference call per batch of ≤ `batchSize` rows;
    * memory per task is bounded by batch × row size regardless of
    * partition size, which is what keeps a 100 TB scan from holding a
    * partition of decoded tensors live. Feature values are identical
    * to [[extractFeatures]] — batching changes delivery, not results.
    */
  def extractFeaturesBatched(spark: SparkSession, media: DataFrame,
                             idCol: String, dataCol: String,
                             dim: Int = 64, batchSize: Int = 32): Dataset[BatchedFeatures] = {
    require(batchSize > 0, "batchSize must be positive")
    import spark.implicits._
    media.selectExpr(s"CAST($idCol AS BIGINT)", dataCol).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        // a real pipeline initializes the codec/model HERE, once per task
        var seq = -1
        rows.grouped(batchSize).flatMap { batch =>
          seq += 1
          val bs = batch.size
          // a real pipeline runs ONE inference call on the whole batch
          batch.iterator.map { case (id, data) =>
            BatchedFeatures(id, data.length.toLong,
              featurizeStub(data, dim), seq, bs)
          }
        }
      }
  }

  /** One resized image row: new dimensions + re-encoded payload. */
  final case class ResizedMedia(media_id: Long, width: Int, height: Int,
                                data: Array[Byte])

  /** STUB resample — deterministic fake "resized" payload whose length
    * scales with the target pixel count (a real implementation decodes,
    * resamples, re-encodes here). Deterministic in (bytes, w, h).
    */
  private[multimodal] def resizeStub(data: Array[Byte], w: Int, h: Int): Array[Byte] = {
    val outLen = math.max(1, math.min(data.length, (w.toLong * h / 8L).toInt))
    val out = new Array[Byte](outLen)
    var i = 0
    while (i < outLen) {
      out(i) = (data(((i.toLong * data.length) / outLen).toInt) ^ (w + 31 * h)).toByte
      i += 1
    }
    out
  }

  /** Resize every image to `(targetW, targetH)` — narrow per-partition
    * map, codec init amortized per task, output rows strictly smaller
    * than or equal to input rows in bytes (resize-down); at 100 TB this
    * is the classic "thumbnail pass" whose cost is the scan itself.
    */
  def resize(spark: SparkSession, media: DataFrame,
             idCol: String, dataCol: String,
             targetW: Int, targetH: Int): Dataset[ResizedMedia] = {
    require(targetW > 0 && targetH > 0, "target dimensions must be positive")
    import spark.implicits._
    media.selectExpr(s"CAST($idCol AS BIGINT)", dataCol).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, data) =>
          ResizedMedia(id, targetW, targetH, resizeStub(data, targetW, targetH))
        }
      }
  }

  /** One sampled video frame. */
  final case class SampledFrame(media_id: Long, frame_idx: Int,
                                frame: Array[Byte])

  /** STUB frame extraction — a deterministic fake frame payload per
    * index, kept for the synthetic fixture corpus and its DuckDB
    * oracle gate (`mm_frame_sample`). REAL containers go through
    * [[Mp4Parser.sampleFramesReal]]: stbl-resolved MP4 sample slices
    * and marker-scanned MJPEG frames (one slice in memory at a time —
    * never a materialized frame set), with the codec boundary
    * documented on [[Mp4Parser]].
    */
  private[multimodal] def frameStub(data: Array[Byte], idx: Int): Array[Byte] = {
    val len = math.max(1, data.length / 4)
    val out = new Array[Byte](len)
    var i = 0
    while (i < len) {
      out(i) = (data((i + idx * 7) % data.length) + idx).toByte
      i += 1
    }
    out
  }

  // ---- REAL image arm (JDK ImageIO: PNG/JPEG/GIF/BMP, zero new deps) --
  //
  // The stub arm above exists for the synthetic fixture corpus (text
  // bytes dressed as media) and its DuckDB-replayable oracle gates.
  // Real corpora go through the functions below: same Spark plumbing
  // (per-partition map, codec init per task, bounded memory), actual
  // codecs. PNG decode is spec-exact; pixel RESAMPLING is implemented
  // here as integer box-averaging rather than Graphics2D so outputs
  // are bit-stable across JREs/platforms (the AWT rendering pipeline
  // makes no such promise).

  /** Header-only probe: (format, width, height) without decoding any
    * pixels — the metadata pass over 100 TB of media must not pay a
    * full decode per file. None when no installed reader claims the
    * payload.
    */
  private[multimodal] def probeImage(data: Array[Byte]): Option[(String, Int, Int)] = {
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(data))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) None
      else {
        val r = readers.next()
        try {
          r.setInput(iis, true, true)
          Some((r.getFormatName.toLowerCase(java.util.Locale.ROOT),
            r.getWidth(0), r.getHeight(0)))
        } catch { case _: Exception => None } finally r.dispose()
      }
    } catch { case _: Exception => None } finally iis.close()
  }

  /** Full pixel decode. None for unreadable payloads. */
  private[multimodal] def readImage(data: Array[Byte]): Option[java.awt.image.BufferedImage] =
    try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(data)))
    catch { case _: Exception => None }

  /** Deterministic integer box-average resample to (w, h): each output
    * pixel averages its source box's RGB channels in long arithmetic —
    * no AWT rendering, so the result is identical on every platform.
    */
  private[multimodal] def resampleBox(img: java.awt.image.BufferedImage,
                                      w: Int, h: Int): java.awt.image.BufferedImage = {
    val out = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val sw = img.getWidth; val sh = img.getHeight
    var y = 0
    while (y < h) {
      val y0 = (y.toLong * sh / h).toInt
      val y1 = math.max(y0 + 1, ((y + 1).toLong * sh / h).toInt)
      var x = 0
      while (x < w) {
        val x0 = (x.toLong * sw / w).toInt
        val x1 = math.max(x0 + 1, ((x + 1).toLong * sw / w).toInt)
        var r = 0L; var g = 0L; var b = 0L; var n = 0L
        var yy = y0
        while (yy < y1) {
          var xx = x0
          while (xx < x1) {
            val p = img.getRGB(xx, yy)
            r += (p >> 16) & 0xFF; g += (p >> 8) & 0xFF; b += p & 0xFF
            n += 1; xx += 1
          }
          yy += 1
        }
        out.setRGB(x, y,
          (((r / n).toInt) << 16) | (((g / n).toInt) << 8) | (b / n).toInt)
        x += 1
      }
      y += 1
    }
    out
  }

  private def pngBytes(img: java.awt.image.BufferedImage): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** REAL metadata pass: header-only probe per row (no pixel decode),
    * same output schema as the stub [[decodeMeta]]. Unreadable
    * payloads surface as `format = "unreadable"` with zero dims —
    * a curation filter downstream, never a task failure.
    */
  def decodeImageMeta(spark: SparkSession, media: DataFrame,
                      idCol: String, dataCol: String): Dataset[MediaMeta] = {
    import spark.implicits._
    media.selectExpr(s"CAST($idCol AS BIGINT)", dataCol).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, data) =>
          probeImage(data) match {
            case Some((fmt, w, h)) => MediaMeta(id, data.length.toLong, fmt, w, h, 1)
            case None => MediaMeta(id, data.length.toLong, "unreadable", 0, 0, 0)
          }
        }
      }
  }

  /** REAL resize: decode → integer box-average to (targetW, targetH) →
    * re-encode PNG. Undecodable rows are DROPPED (the thumbnail pass
    * doubles as the decode-validity filter; pair with
    * [[decodeImageMeta]] when the drop set must be audited).
    */
  def resizeImages(spark: SparkSession, media: DataFrame,
                   idCol: String, dataCol: String,
                   targetW: Int, targetH: Int): Dataset[ResizedMedia] = {
    require(targetW > 0 && targetH > 0, "target dimensions must be positive")
    import spark.implicits._
    media.selectExpr(s"CAST($idCol AS BIGINT)", dataCol).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, data) =>
          readImage(data).map { img =>
            ResizedMedia(id, targetW, targetH,
              pngBytes(resampleBox(img, targetW, targetH)))
          }
        }
      }
  }

  /** One decoded pixel. The per-pixel fan-out form is for SMALL images
    * (thumbnails, fixtures, diff surfaces) — a 4k frame is 8M rows and
    * belongs in [[extractImageFeatures]]' aggregate form instead.
    */
  final case class PixelRow(media_id: Long, x: Int, y: Int,
                            r: Int, g: Int, b: Int)

  /** REAL full decode to per-pixel RGB rows — the inspection /
    * differential surface for the image arm (raw PNG bytes cannot be
    * compared across engines; decoded integer channels can).
    * Undecodable rows are dropped; one image decoded at a time per
    * task.
    */
  def decodePixels(spark: SparkSession, media: DataFrame,
                   idCol: String, dataCol: String): Dataset[PixelRow] = {
    import spark.implicits._
    media.selectExpr(s"CAST($idCol AS BIGINT)", dataCol).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, data) =>
          readImage(data).iterator.flatMap { img =>
            for {
              y <- Iterator.range(0, img.getHeight)
              x <- Iterator.range(0, img.getWidth)
            } yield {
              val p = img.getRGB(x, y)
              PixelRow(id, x, y, (p >> 16) & 0xFF, (p >> 8) & 0xFF, p & 0xFF)
            }
          }
        }
      }
  }

  /** REAL feature extraction: decode → box-average to a `grid`×`grid`
    * patch → per-patch RGB channel means in [0,1], row-major —
    * 3·grid² floats, the classic color-layout descriptor (a cheap,
    * fully deterministic stand-in for a vision-model embedding with
    * the same Spark shape: fixed dim, one pass, bounded memory).
    * Undecodable rows are dropped.
    */
  def extractImageFeatures(spark: SparkSession, media: DataFrame,
                           idCol: String, dataCol: String,
                           grid: Int = 4): Dataset[MediaFeatures] = {
    require(grid > 0, "grid must be positive")
    import spark.implicits._
    media.selectExpr(s"CAST($idCol AS BIGINT)", dataCol).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, data) =>
          readImage(data).map { img =>
            val s = resampleBox(img, grid, grid)
            val out = new Array[Float](3 * grid * grid)
            var y = 0
            while (y < grid) {
              var x = 0
              while (x < grid) {
                val p = s.getRGB(x, y)
                val base = 3 * (y * grid + x)
                out(base) = ((p >> 16) & 0xFF) / 255.0f
                out(base + 1) = ((p >> 8) & 0xFF) / 255.0f
                out(base + 2) = (p & 0xFF) / 255.0f
                x += 1
              }
              y += 1
            }
            MediaFeatures(id, data.length.toLong, out)
          }
        }
      }
  }

  /** Sample every `everyN`-th frame (0, everyN, 2·everyN, …, capped at
    * `maxFrames` samples per video) — the video-curation fan-out.
    * Frame count comes from the (stubbed) container metadata; frames
    * stream out of a lazy iterator, so task memory holds ONE frame at
    * a time, never a decoded video. The fan-out multiplies rows by up
    * to `maxFrames`: size upstream partitions by bytes × that factor
    * (`spark.sql.files.maxPartitionBytes` down, or repartition first).
    */
  def sampleFrames(spark: SparkSession, media: DataFrame,
                   idCol: String, dataCol: String,
                   everyN: Int, maxFrames: Int = 16): Dataset[SampledFrame] = {
    require(everyN > 0, "everyN must be positive")
    require(maxFrames > 0, "maxFrames must be positive")
    import spark.implicits._
    media.selectExpr(s"CAST($idCol AS BIGINT)", dataCol).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, data) =>
          val meta = decodeStub(id, data)
          // videos stub as multi-frame: derive a deterministic frame
          // count from the metadata the decode pass already computed
          val nFrames = math.max(1, math.floorMod(meta.width * 31 + meta.height, 120))
          Iterator.range(0, nFrames, everyN).take(maxFrames)
            .map(idx => SampledFrame(id, idx, frameStub(data, idx)))
        }
      }
  }
}
