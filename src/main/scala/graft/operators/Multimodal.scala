package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Q
import graft.sources.{Incremental, SourcesSinks, Tables}

/** Multimodal (image/audio/video) column design — SURVEY.md §2.J design row.
  *
  * Assets are opaque `BinaryType` payloads plus a typed metadata struct —
  * the schema a 100 TB multimodal corpus would use. The decode kernels are
  * REAL JDK codecs (no stubs): PNG via `javax.imageio.ImageIO` for images
  * and video frames, PCM16 WAV via `javax.sound.sampled.AudioSystem` for
  * audio; "video" is a length-prefixed pack of PNG frames (a documented
  * synthetic container — the container is trivial, but every frame decode
  * is a real image codec pass). Both codec families are pure-JVM, headless
  * and deterministic.
  *
  * Scale posture: decode/feature-extract run via mapPartitions on the
  * executor side (one codec context per partition, amortized across the
  * batch — the Scala analog of Python's mapInPandas batching); assets are
  * repartitioned by asset_id so media bytes never skew one task; outputs are
  * narrow columns (features, dims) so downstream stages drop the payload
  * early.
  */
object Multimodal {

  val assetSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false), // image|audio|video
    StructField("media", BinaryType, nullable = false),
    StructField("meta", StructType(Seq(
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("sample_rate", IntegerType),
      StructField("duration_ms", LongType))))))

  final case class AssetMeta(width: Option[Int], height: Option[Int],
                             sample_rate: Option[Int],
                             duration_ms: Option[Long])
  final case class Asset(asset_id: Long, kind: String, media: Array[Byte],
                         meta: AssetMeta)
  final case class DecodedAsset(asset_id: Long, kind: String, width: Int,
                                height: Int, features: Array[Float])
  final case class Frame(asset_id: Long, frame_idx: Int, ts_ms: Long,
                         features: Array[Float])

  // ---------------------------------------------------------------- codecs

  /** Encode a deterministic RGB raster as real PNG bytes (lossless: the
    * decoded getRGB of every pixel equals the value set here).
    */
  def encodePng(w: Int, h: Int, rgb: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { img.setRGB(x, y, rgb(x, y)); x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Encode a raster as REAL JPEG bytes at an explicit quality — the
    * third JDK codec (after PNG and WAV) and the first LOSSY one.
    * Explicit quality (not the writer default) keeps the bytes
    * deterministic under one JDK.
    */
  def encodeJpeg(img: java.awt.image.BufferedImage,
                 quality: Float = 0.9f): Array[Byte] = {
    val writer =
      javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
    val params = writer.getDefaultWriteParam
    params.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    params.setCompressionQuality(quality)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.write(null, new javax.imageio.IIOImage(img, null, null), params)
    writer.dispose()
    ios.close()
    bos.toByteArray
  }

  /** Real image decode: PNG bytes → BufferedImage via the JDK codec. */
  def decodeImage(bytes: Array[Byte]): java.awt.image.BufferedImage = {
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bytes))
    require(img != null, "undecodable image payload")
    img
  }

  /** Encode PCM16 mono samples as a canonical 44-byte-header WAV. */
  def encodeWav(samples: Array[Short], sampleRate: Int): Array[Byte] = {
    val dataLen = samples.length * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII")).put("fmt ".getBytes("US-ASCII"))
      .putInt(16).putShort(1).putShort(1).putInt(sampleRate)
      .putInt(sampleRate * 2).putShort(2).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(bb.putShort)
    bb.array()
  }

  /** Real audio decode: WAV bytes → PCM16 samples via the JDK sampled-audio
    * stack (AudioSystem parses the RIFF/fmt chunks; no audio device needed).
    */
  def decodeWav(bytes: Array[Byte]): Array[Short] = {
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      val fmt = ais.getFormat
      require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1,
        s"expected PCM16 mono, got $fmt")
      val raw = ais.readAllBytes()
      val bb = java.nio.ByteBuffer.wrap(raw)
        .order(if (fmt.isBigEndian) java.nio.ByteOrder.BIG_ENDIAN
               else java.nio.ByteOrder.LITTLE_ENDIAN)
      Array.fill(raw.length / 2)(bb.getShort)
    } finally ais.close()
  }

  /** Pack PNG frames into the synthetic video container: a 4-byte
    * big-endian frame count, then per frame a 4-byte length + PNG bytes.
    */
  def packFrames(frames: Seq[Array[Byte]]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(
      4 + frames.map(4 + _.length).sum)
    bb.putInt(frames.length)
    frames.foreach { f => bb.putInt(f.length); bb.put(f) }
    bb.array()
  }

  /** Unpack the synthetic video container back into per-frame PNG bytes. */
  def unpackFrames(bytes: Array[Byte]): Seq[Array[Byte]] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    (0 until n).map { _ =>
      val len = bb.getInt
      val f = new Array[Byte](len)
      bb.get(f)
      f
    }
  }

  // ----------------------------------------------- synthetic asset corpus

  private def assetKind(id: Long): String =
    (id % 3) match { case 0 => "image"; case 1 => "audio"; case _ => "video" }

  /** Deterministic raster for asset `id`: a modular pixel ramp (exact
    * integer arithmetic, so the same raster is derivable analytically).
    */
  private def rampRgb(id: Long)(x: Int, y: Int): Int = {
    val r = ((id + 3L * x + 5L * y) % 256).toInt
    val g = ((2L * id + 7L * x + y) % 256).toInt
    val b = ((5L * id + x + 11L * y) % 256).toInt
    (r << 16) | (g << 8) | b
  }

  /** Deterministic synthetic asset table carrying REAL media payloads:
    * PNG rasters for images, PCM16 WAV for audio, PNG-frame packs for
    * video. Generation runs executor-side (mapPartitions) — the encode
    * cost parallelizes like any decode would.
    */
  def syntheticAssets(spark: SparkSession, n: Int): DataFrame = {
    import spark.implicits._
    spark.range(n.toLong).as[Long].mapPartitions { it =>
      it.map { id =>
        val w = (id % 1024 + 16).toInt
        val h = (id * 7 % 768 + 16).toInt
        val durMs = id % 30000 + 1000
        val media = assetKind(id) match {
          case "image" => encodePng(w, h, rampRgb(id))
          case "audio" =>
            val nS = math.min(16000L * durMs / 1000L, 65536L).toInt
            encodeWav(Array.tabulate(nS)(i =>
              ((id * 31 + i * 17) % 65536 - 32768).toShort), 16000)
          case _ =>
            val frames = math.max(1L, durMs / 1000L).toInt
            // frames stay small (16×12) so a long video is many frames,
            // not one huge raster — the shape a real sampler produces
            packFrames((0 until frames).map(f =>
              encodePng(16, 12, rampRgb(id + f))))
        }
        Asset(id, assetKind(id), media,
          AssetMeta(Some(w), Some(h), Some(16000), Some(durMs)))
      }
    }.toDF()
  }

  /** Per-bin mean luminance of a decoded raster: bin j averages pixels at
    * raster index ≡ j (mod dim) — fixed iteration order, so float
    * accumulation is deterministic.
    */
  private def lumBins(img: java.awt.image.BufferedImage,
                      dim: Int): (Int, Int, Array[Float]) = {
    val (w, h) = (img.getWidth, img.getHeight)
    val sums = new Array[Float](dim)
    val counts = new Array[Int](dim)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val lum = (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) +
          (rgb & 0xff)) / (3.0f * 255.0f)
        val j = (y * w + x) % dim
        sums(j) += lum
        counts(j) += 1
        x += 1
      }
      y += 1
    }
    var j = 0
    while (j < dim) {
      if (counts(j) > 0) sums(j) /= counts(j)
      j += 1
    }
    (w, h, sums)
  }

  /** Decode + feature-extract, batched per partition: REAL codec passes
    * (ImageIO / AudioSystem) with the per-partition iterator amortizing
    * codec setup. Features: images/video = per-bin mean luminance (video
    * averaged across decoded frames), audio = per-bin mean |amplitude|.
    */
  def decodeAndFeaturize(assets: DataFrame, dim: Int = 16): Dataset[DecodedAsset] = {
    val spark = assets.sparkSession
    import spark.implicits._
    assets.repartition(col("asset_id")).as[Asset].mapPartitions { it =>
      it.map { a =>
        a.kind match {
          case "image" =>
            val (w, h, f) = lumBins(decodeImage(a.media), dim)
            DecodedAsset(a.asset_id, a.kind, w, h, f)
          case "audio" =>
            val samples = decodeWav(a.media)
            val sums = new Array[Float](dim)
            val counts = new Array[Int](dim)
            var i = 0
            while (i < samples.length) {
              sums(i % dim) += math.abs(samples(i).toInt) / 32768.0f
              counts(i % dim) += 1
              i += 1
            }
            var j = 0
            while (j < dim) {
              if (counts(j) > 0) sums(j) /= counts(j)
              j += 1
            }
            DecodedAsset(a.asset_id, a.kind, 0, 0, sums)
          case _ =>
            val frames = unpackFrames(a.media).map(decodeImage)
            val acc = new Array[Float](dim)
            frames.foreach { img =>
              val (_, _, f) = lumBins(img, dim)
              var j = 0
              while (j < dim) { acc(j) += f(j); j += 1 }
            }
            var j = 0
            while (j < dim) { acc(j) /= frames.length; j += 1 }
            DecodedAsset(a.asset_id, a.kind,
              frames.head.getWidth, frames.head.getHeight, acc)
        }
      }
    }
  }

  /** Resize: pure-metadata transform (target box, preserve aspect). */
  def resizeMeta(decoded: Dataset[DecodedAsset], maxSide: Int): DataFrame =
    decoded.toDF()
      .withColumn("scale",
        least(lit(1.0), lit(maxSide.toDouble) /
          greatest(greatest(col("width"), col("height")), lit(1))
            .cast(DoubleType)))
      .withColumn("out_w", ceil(col("width") * col("scale")).cast(IntegerType))
      .withColumn("out_h", ceil(col("height") * col("scale")).cast(IntegerType))

  /** Frame sampling for video assets: one row per REAL decoded frame at a
    * fixed stride — every frame goes through the ImageIO codec.
    */
  def sampleFrames(assets: DataFrame, strideMs: Long = 1000,
                   dim: Int = 16): Dataset[Frame] = {
    val spark = assets.sparkSession
    import spark.implicits._
    assets.where(col("kind") === "video").as[Asset].flatMap { a =>
      unpackFrames(a.media).iterator.zipWithIndex.map { case (png, f) =>
        val (_, _, feats) = lumBins(decodeImage(png), dim)
        Frame(a.asset_id, f, f * strideMs, feats)
      }
    }
  }

  /** Deterministic corpus-derived asset table in the full assetSchema shape:
    * one asset per document, media = the md5 hex digest of the text as
    * bytes (a stand-in payload BOTH engines can derive — the t2 oracle
    * needs to recompute the payload analytically), meta from the doc id.
    * This is the t2-visible bridge from the driver's tables to the
    * multimodal pipeline; the REAL-codec t2 path is q_multimodal_decode.
    */
  def assetsFromDocuments(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir).select(
      col("doc_id").as("asset_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col("doc_id"), lit(3)) + 1).cast(IntegerType)).as("kind"),
      md5(col("text")).cast("binary").as("media"),
      struct(
        (pmod(col("doc_id"), lit(1024)) + 16).cast(IntegerType).as("width"),
        (pmod(col("doc_id") * 7, lit(768)) + 16).cast(IntegerType)
          .as("height"),
        lit(16000).as("sample_rate"),
        // (doc_id % 29 + 1) s + 500 ms: frame counts span 1..29 at EVERY
        // scale factor (doc_id % 30000 degenerates to <2 s for small ids,
        // which would leave the frame fan-out untested)
        ((pmod(col("doc_id"), lit(29)) + 1) * 1000 + 500)
          .as("duration_ms"))
        .as("meta"))

  /** Output row of the t2 featurization query. */
  final case class FeatRow(asset_id: Long, kind: String, width: Int,
                           height: Int, out_w: Int, out_h: Int,
                           n_bytes: Int, feat: String)

  /** The t2 multimodal query: featurize + resize metadata over
    * corpus-derived assets, through the REAL pipeline seams — BinaryType
    * payload column, repartition by asset_id, typed Dataset[Asset],
    * batched mapPartitions (the codec context opens once per partition
    * iterator; the real-codec decode pass itself is q_multimodal_decode,
    * whose payloads are actual PNG files).
    *
    * Featurization here is an integer byte-fold (bin j sums payload bytes
    * at positions ≡ j mod 8): exact integers make the identical feature
    * vector computable in DuckDB (ascii() over the same md5 hex chars) →
    * full oracle. The resize math is a single IEEE divide + multiply +
    * ceil in both engines.
    */
  val qMultimodalFeatures = Q(
    "q_multimodal_features",
    (s, dir) => {
      import s.implicits._
      val dim = 8
      val maxSide = 256.0
      assetsFromDocuments(s, dir)
        .repartition(col("asset_id"))
        .as[Asset]
        .mapPartitions { it =>
          // per-partition setup (codec init) would go here — once per batch
          it.map { a =>
            val sums = new Array[Long](dim)
            var i = 0
            while (i < a.media.length) {
              sums(i % dim) += (a.media(i) & 0xff)
              i += 1
            }
            val w = a.meta.width.getOrElse(0)
            val h = a.meta.height.getOrElse(0)
            val scale = math.min(1.0, maxSide / math.max(w, h))
            FeatRow(a.asset_id, a.kind, w, h,
              math.ceil(w * scale).toInt, math.ceil(h * scale).toInt,
              a.media.length, sums.mkString(","))
          }
        }
        .toDF()
        .orderBy("asset_id")
    },
    Some("""WITH a AS (SELECT doc_id AS asset_id,
                              (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1]
                                AS kind,
                              md5(text) AS h,
                              CAST(doc_id % 1024 + 16 AS INT) AS width,
                              CAST((doc_id * 7) % 768 + 16 AS INT) AS height
                       FROM documents),
                 f AS (SELECT asset_id, CAST(i.i % 8 AS INT) AS j,
                              sum(ascii(substr(h, CAST(i.i AS INT) + 1, 1)))
                                AS s
                       FROM a CROSS JOIN range(32) AS i(i)
                       GROUP BY 1, 2),
                 feat AS (SELECT asset_id,
                                 string_agg(CAST(s AS VARCHAR), ','
                                            ORDER BY j) AS feat
                          FROM f GROUP BY asset_id)
            SELECT a.asset_id, a.kind, a.width, a.height,
                   CAST(ceil(a.width *
                     least(1.0, 256.0 / greatest(a.width, a.height)))
                     AS INT) AS out_w,
                   CAST(ceil(a.height *
                     least(1.0, 256.0 / greatest(a.width, a.height)))
                     AS INT) AS out_h,
                   CAST(length(a.h) AS INT) AS n_bytes,
                   f.feat
            FROM a JOIN feat f USING (asset_id)
            ORDER BY asset_id"""))

  /** Output row of the t2 frame-sampling query. */
  final case class FrameRow(asset_id: Long, frame_idx: Int, ts_ms: Long,
                            fsum: Long)

  /** The t2 frame-sampling query: video assets explode into one row per
    * sampled frame at a 1 s stride — the generator (flatMap) shape of a
    * video pipeline, through the same typed-Dataset/mapPartitions seams as
    * featurization. Per-frame fingerprint = integer byte-fold of the
    * payload + frame index, exact in both engines → full oracle. Frame
    * counts are bounded by duration_ms, so the fan-out is data-capped
    * (max 30 rows/asset), never unbounded.
    */
  val qMultimodalFrames = Q(
    "q_multimodal_frames",
    (s, dir) => {
      import s.implicits._
      assetsFromDocuments(s, dir)
        .where(col("kind") === "video")
        .repartition(col("asset_id"))
        .as[Asset]
        .mapPartitions { it =>
          // per-partition setup (codec init) would go here — once per batch
          it.flatMap { a =>
            var bsum = 0L
            var i = 0
            while (i < a.media.length) { bsum += (a.media(i) & 0xff); i += 1 }
            val n = math.max(1L, a.meta.duration_ms.getOrElse(0L) / 1000L)
            (0L until n).iterator.map { f =>
              FrameRow(a.asset_id, f.toInt, f * 1000L, bsum + f)
            }
          }
        }
        .toDF()
        .orderBy("asset_id", "frame_idx")
    },
    Some("""WITH a AS (SELECT doc_id AS asset_id, md5(text) AS h,
                              (doc_id % 29 + 1) * 1000 + 500 AS dur
                       FROM documents WHERE doc_id % 3 = 2),
                 s AS (SELECT asset_id, dur,
                              sum(ascii(substr(h, CAST(i.i AS INT) + 1, 1)))
                                AS bsum
                       FROM a CROSS JOIN range(32) AS i(i)
                       GROUP BY 1, 2)
            SELECT asset_id, CAST(f.f AS INT) AS frame_idx,
                   f.f * 1000 AS ts_ms, CAST(bsum + f.f AS BIGINT) AS fsum
            FROM s CROSS JOIN range(30) AS f(f)
            WHERE f.f < greatest(1, dur // 1000)
            ORDER BY asset_id, frame_idx"""))

  /** Output row of the t2 real-codec decode query. */
  final case class PngStatRow(asset_id: Long, width: Int, height: Int,
                              n_px: Long, sum_r: Long, sum_g: Long,
                              sum_b: Long)

  /** The t2 REAL-CODEC decode query: deterministic PNG files on disk →
    * `binaryFile` ingest → `javax.imageio` decode in batched mapPartitions
    * → per-image pixel statistics. The fixture writes one real PNG per
    * sampled document (modular pixel ramp, dims from the doc id) via
    * PER-PARTITION file writes (no driver collect), built by the same
    * Incremental store rule as the other file fixtures. PNG is
    * lossless, so the decoded channel sums equal the construction's — and
    * the oracle computes those sums ANALYTICALLY from the ramp formula
    * (independent-formulation doctrine: DuckDB never decodes a PNG; a
    * hash match proves encode → file → binaryFile → ImageIO preserved
    * every pixel). All-integer stats → bit-exact cross-engine.
    *
    * Scale posture: the decode pass is the real thing — payload-bearing
    * rows repartitioned by asset, a real codec invoked per row inside a
    * per-partition batch, narrow integer outputs dropping the payload
    * immediately. At 100 TB only the fixture builder changes (assets
    * already exist); the read+decode+aggregate pipeline is unchanged.
    */
  val qMultimodalDecode = Q(
    "q_multimodal_decode",
    (s, dir) => {
      import s.implicits._
      val path = SourcesSinks.dirKeyedTempPath(s, dir, "png_assets")
      Incremental.store(s, Seq(s"$dir/documents.parquet"), Seq(path)) {
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path))
        // executor-side file writes, one task per partition — the fixture
        // never funnels media bytes through the driver
        Tables.documents(s, dir).select(col("doc_id"))
          .where(pmod(col("doc_id"), lit(100)) === 0)
          .as[Long]
          .foreachPartition { (it: Iterator[Long]) =>
            it.foreach { id =>
              val w = (id % 13 + 4).toInt
              val h = (id * 7 % 11 + 4).toInt
              java.nio.file.Files.write(
                java.nio.file.Paths.get(path, f"asset_$id%09d.png"),
                encodePng(w, h, rampRgb(id)))
            }
          }
      }
      s.read.format("binaryFile").load(path)
        .where(!col("path").endsWith("_SUCCESS"))
        .select(
          regexp_extract(element_at(split(col("path"), "/"), -1),
            "asset_(\\d+)\\.png", 1).cast(LongType).as("asset_id"),
          col("content"))
        .repartition(col("asset_id"))
        .as[(Long, Array[Byte])]
        .mapPartitions { it =>
          // one ImageIO pass per row, batched per partition
          it.map { case (id, bytes) =>
            val img = decodeImage(bytes)
            val (w, h) = (img.getWidth, img.getHeight)
            var (sr, sg, sb) = (0L, 0L, 0L)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val rgb = img.getRGB(x, y)
                sr += (rgb >> 16) & 0xff
                sg += (rgb >> 8) & 0xff
                sb += rgb & 0xff
                x += 1
              }
              y += 1
            }
            PngStatRow(id, w, h, w.toLong * h, sr, sg, sb)
          }
        }
        .toDF()
        .orderBy("asset_id")
    },
    Some("""WITH d AS (SELECT doc_id AS asset_id,
                              CAST(doc_id % 13 + 4 AS INT) AS width,
                              CAST((doc_id * 7) % 11 + 4 AS INT) AS height
                       FROM documents WHERE doc_id % 100 = 0),
                 px AS (SELECT asset_id, width, height,
                               (asset_id + 3 * x.i + 5 * y.i) % 256 AS r,
                               (2 * asset_id + 7 * x.i + y.i) % 256 AS g,
                               (5 * asset_id + x.i + 11 * y.i) % 256 AS b
                        FROM d
                        CROSS JOIN range(16) AS x(i)
                        CROSS JOIN range(14) AS y(i)
                        WHERE x.i < width AND y.i < height)
            SELECT asset_id, width, height,
                   CAST(count(*) AS BIGINT) AS n_px,
                   CAST(sum(r) AS BIGINT) AS sum_r,
                   CAST(sum(g) AS BIGINT) AS sum_g,
                   CAST(sum(b) AS BIGINT) AS sum_b
            FROM px GROUP BY asset_id, width, height
            ORDER BY asset_id"""))

  /** Output row of the t2 audio-decode query. */
  final case class WavStatRow(asset_id: Long, n_samples: Int, sum_s: Long,
                              min_s: Int, max_s: Int)

  /** The t2 audio counterpart of [[qMultimodalDecode]]: deterministic
    * PCM16 WAVs (modular sample ramps) written as real files from the
    * executors, ingested through `binaryFile`, decoded with the JDK
    * sampled-audio stack in batched mapPartitions, reduced to exact
    * integer sample statistics. The oracle recomputes the stats
    * analytically from the ramp formula — DuckDB never parses a WAV; a
    * hash match proves encode → file → binaryFile → AudioSystem decode
    * preserved every sample. Second REAL-codec modality after PNG.
    */
  val qMultimodalAudioDecode = Q(
    "q_multimodal_audio_decode",
    (s, dir) => {
      import s.implicits._
      val path = SourcesSinks.dirKeyedTempPath(s, dir, "wav_assets")
      Incremental.store(s, Seq(s"$dir/documents.parquet"), Seq(path)) {
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path))
        Tables.documents(s, dir).select(col("doc_id"))
          .where(pmod(col("doc_id"), lit(100)) === 50)
          .as[Long]
          .foreachPartition { (it: Iterator[Long]) =>
            it.foreach { id =>
              val n = (id % 50 + 20).toInt
              java.nio.file.Files.write(
                java.nio.file.Paths.get(path, f"audio_$id%09d.wav"),
                encodeWav(Array.tabulate(n)(i =>
                  ((id * 31 + i * 17) % 65536 - 32768).toShort), 16000))
            }
          }
      }
      s.read.format("binaryFile").load(path)
        .where(!col("path").endsWith("_SUCCESS"))
        .select(
          regexp_extract(element_at(split(col("path"), "/"), -1),
            "audio_(\\d+)\\.wav", 1).cast(LongType).as("asset_id"),
          col("content"))
        .repartition(col("asset_id"))
        .as[(Long, Array[Byte])]
        .mapPartitions { it =>
          it.map { case (id, bytes) =>
            val samples = decodeWav(bytes)
            var (sum, mn, mx) = (0L, Int.MaxValue, Int.MinValue)
            samples.foreach { v =>
              sum += v; mn = math.min(mn, v.toInt); mx = math.max(mx, v.toInt)
            }
            WavStatRow(id, samples.length, sum, mn, mx)
          }
        }
        .toDF()
        .orderBy("asset_id")
    },
    Some("""WITH d AS (SELECT doc_id AS asset_id, doc_id % 50 + 20 AS n
                       FROM documents WHERE doc_id % 100 = 50),
                 sm AS (SELECT asset_id, n,
                          (asset_id * 31 + i.i * 17) % 65536 - 32768 AS v
                        FROM d CROSS JOIN range(70) AS i(i)
                        WHERE i.i < n)
            SELECT asset_id, CAST(n AS INT) AS n_samples,
                   CAST(sum(v) AS BIGINT) AS sum_s,
                   CAST(min(v) AS INT) AS min_s,
                   CAST(max(v) AS INT) AS max_s
            FROM sm GROUP BY asset_id, n ORDER BY asset_id"""))

  /** Per-pixel luminance row of the pHash pipeline. */
  final case class PhashPix(asset_id: Long, x: Int, y: Int, lum: Long)

  /** Image NEAR-DUP detection via perceptual average-hash — the visual
    * counterpart of q_dedup_exact_hash (byte-identical files miss
    * re-encoded/brightness-shifted copies; aHash catches them): 20 base
    * rasters each with a +16-brightness variant (bounded ramp channels,
    * so no clamping — a uniform shift provably preserves every
    * cell-vs-mean comparison, hence the exact hash), REAL PNG encode →
    * ImageIO decode per asset in batched mapPartitions, then the whole
    * hash pipeline in DataFrame ops: integer luminance (r+g+b) div 3,
    * 8×8 block sums, bit = cell_sum·64 > total (the integer-exact
    * spelling of cell_mean > global_mean), 64-char bit-string hash,
    * self-join on hash for dup pairs. The oracle recomputes every pixel
    * ANALYTICALLY from the ramp formula — DuckDB never sees a PNG — so
    * the hash match proves codec round-trip + downsample + threshold +
    * bit assembly end-to-end. Scale: decode is row-local;
    * per-asset pixel fan-out is bounded by the fixed 32×24 raster (a
    * production pHash downsamples inside the decoder — same shape);
    * the pair join keys on the 64-bit hash, the same bucketed-dedup
    * shuffle as every exact-dup query.
    */
  val qMultimodalPhash = Q(
    "q_multimodal_phash",
    (s, dir) => {
      import s.implicits._
      val nBase = 20L
      val px = s.range(2L * nBase).repartition(8).as[Long]
        .mapPartitions { it =>
          it.flatMap { id =>
            val base = id / 2
            val delta = (id % 2).toInt * 16
            val rgb = (x: Int, y: Int) => {
              val r = ((base * 13 + 3 * x + 5 * y) % 200).toInt + delta
              val g = ((2 * base + 7 * x + y) % 200).toInt + delta
              val b = ((5 * base + x + 11 * y) % 200).toInt + delta
              (r << 16) | (g << 8) | b
            }
            val img = decodeImage(encodePng(32, 24, rgb))
            for { y <- 0 until 24; x <- 0 until 32 } yield {
              val p = img.getRGB(x, y)
              val lum =
                (((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)) / 3
              PhashPix(id, x, y, lum.toLong)
            }
          }
        }.toDF()
      val cells = px
        .groupBy(col("asset_id"), expr("x div 4").cast(IntegerType).as("i"),
          expr("y div 3").cast(IntegerType).as("j"))
        .agg(sum(col("lum")).as("cs"))
      val tots = cells.groupBy("asset_id").agg(sum(col("cs")).as("tot"))
      val hashes = cells.join(tots, "asset_id")
        .withColumn("bit",
          when(col("cs") * 64 > col("tot"), lit("1")).otherwise(lit("0")))
        .groupBy("asset_id")
        .agg(expr("array_join(transform(" +
          "array_sort(collect_list(struct(i, j, bit))), s -> s.bit), '')")
          .as("ahash"))
      hashes.toDF("a", "ha")
        .join(hashes.toDF("b", "hb"),
          col("ha") === col("hb") && col("a") < col("b"))
        .select(col("a"), col("b"), col("ha").as("ahash"))
        .orderBy("a", "b")
    },
    Some("""WITH ids AS (SELECT unnest(range(0, 40)) AS id),
             px AS (SELECT ids.id, CAST(xs.x AS INT) AS x,
                           CAST(ys.y AS INT) AS y
                    FROM ids CROSS JOIN range(32) xs(x)
                             CROSS JOIN range(24) ys(y)),
             lum AS (SELECT id, x, y,
                      ((((id // 2) * 13 + 3 * x + 5 * y) % 200
                          + (id % 2) * 16)
                       + ((2 * (id // 2) + 7 * x + y) % 200
                          + (id % 2) * 16)
                       + ((5 * (id // 2) + x + 11 * y) % 200
                          + (id % 2) * 16)) // 3 AS l
                     FROM px),
             cells AS (SELECT id, x // 4 AS i, y // 3 AS j,
                         CAST(sum(l) AS BIGINT) AS cs
                       FROM lum GROUP BY 1, 2, 3),
             tots AS (SELECT id, CAST(sum(cs) AS BIGINT) AS tot
                      FROM cells GROUP BY id),
             bits AS (SELECT c.id, i, j,
                        CASE WHEN cs * 64 > tot THEN '1' ELSE '0' END AS bit
                      FROM cells c JOIN tots t ON c.id = t.id),
             h AS (SELECT id, string_agg(bit, '' ORDER BY i, j) AS ahash
                   FROM bits GROUP BY id)
            SELECT a.id AS a, b.id AS b, a.ahash
            FROM h a JOIN h b ON a.ahash = b.ahash AND a.id < b.id
            ORDER BY a, b"""))

  /** Per-pixel luminance row of the cross-format pipeline. */
  final case class XfmtPix(asset_id: Long, fmt: String, x: Int, y: Int,
                           lum: Long)

  /** CROSS-FORMAT content identity through a LOSSY codec — the check a
    * real crawl needs (the same image arrives as somebody's PNG and
    * somebody else's JPEG re-encode; byte hashes disagree, content
    * identity must survive): 24 deterministic block rasters (8×8 grid
    * of flat 0/255 cells, pattern keyed by asset id) are encoded as
    * real PNG, then RE-ENCODED through the real JDK JPEG writer at
    * quality 0.9 — a genuinely lossy pass (MultimodalSpec proves
    * pixels change) — and BOTH decodes run the q_multimodal_phash
    * average-hash pipeline. Output per asset: the JPEG-side 64-bit
    * hash, hamming(png, jpeg) for the SAME asset, and hamming(png,
    * jpeg-of-next-asset) as the negative control. The oracle is fully
    * analytic (DuckDB never sees a codec): the block design gives
    * every aHash cell a ≥1000-unit margin over the global mean, so the
    * LAW under certification is "a quality-0.9 JPEG round trip
    * preserves the aHash bit-for-bit on block content" — the oracle
    * states hamming_self = 0 and derives the hash + cross-hamming from
    * the pattern formula, and any codec-induced bit flip turns the
    * parity gate red. Scale: decode is row-local mapPartitions (the
    * codec-context batching shape); the hamming joins key on
    * (asset, cell) — bounded 64 cells/asset.
    */
  val qMultimodalJpeg = Q(
    "q_multimodal_jpeg",
    (s, dir) => {
      import s.implicits._
      val nBase = 24L
      val px = s.range(nBase).repartition(8).as[Long]
        .mapPartitions { it =>
          it.flatMap { id =>
            val rgb = (x: Int, y: Int) => {
              val bright = ((x / 4) * 8 + (y / 3) + id) % 3 != 0
              val v = if (bright) 255 else 0
              (v << 16) | (v << 8) | v
            }
            val png = encodePng(32, 24, rgb)
            val jpg = encodeJpeg(decodeImage(png))
            Seq("png" -> png, "jpg" -> jpg).flatMap { case (fmt, bytes) =>
              val img = decodeImage(bytes)
              for { y <- 0 until 24; x <- 0 until 32 } yield {
                val p = img.getRGB(x, y)
                val lum = (((p >> 16) & 0xff) + ((p >> 8) & 0xff)
                  + (p & 0xff)) / 3
                XfmtPix(id, fmt, x, y, lum.toLong)
              }
            }
          }
        }.toDF()
      val cells = px
        .groupBy(col("asset_id"), col("fmt"),
          expr("x div 4").cast(IntegerType).as("i"),
          expr("y div 3").cast(IntegerType).as("j"))
        .agg(sum(col("lum")).as("cs"))
      val tots = cells.groupBy("asset_id", "fmt")
        .agg(sum(col("cs")).as("tot"))
      val bits = cells.join(tots, Seq("asset_id", "fmt"))
        .withColumn("bit",
          when(col("cs") * 64 > col("tot"), lit("1")).otherwise(lit("0")))
        .select("asset_id", "fmt", "i", "j", "bit")
      val bitsP = bits.where(col("fmt") === "png")
        .select(col("asset_id").as("pid"), col("i"), col("j"),
          col("bit").as("bp"))
      val bitsJ = bits.where(col("fmt") === "jpg")
        .select(col("asset_id").as("jid"), col("i"), col("j"),
          col("bit").as("bj"))
      val self = bitsP
        .join(bitsJ, col("pid") === col("jid")
          && bitsP("i") === bitsJ("i") && bitsP("j") === bitsJ("j"))
        .groupBy(col("pid").as("asset_id"))
        .agg(sum(when(col("bp") =!= col("bj"), 1L).otherwise(0L))
          .as("hamming_self"))
      val next = bitsP
        .withColumn("nid", pmod(col("pid") + 1, lit(nBase)))
        .join(bitsJ, col("nid") === col("jid")
          && bitsP("i") === bitsJ("i") && bitsP("j") === bitsJ("j"))
        .groupBy(col("pid").as("asset_id"))
        .agg(sum(when(col("bp") =!= col("bj"), 1L).otherwise(0L))
          .as("hamming_next"))
      val hashes = bits.where(col("fmt") === "jpg")
        .groupBy(col("asset_id"))
        .agg(expr("array_join(transform(" +
          "array_sort(collect_list(struct(i, j, bit))), s -> s.bit), '')")
          .as("ahash_jpeg"))
      hashes.join(self, "asset_id").join(next, "asset_id")
        .select("asset_id", "ahash_jpeg", "hamming_self", "hamming_next")
        .orderBy("asset_id")
    },
    Some("""WITH ids AS (SELECT unnest(range(0, 24)) AS id),
             cells AS (SELECT id, CAST(ii.i AS INT) AS i,
                         CAST(jj.j AS INT) AS j,
                         CASE WHEN ((ii.i * 8 + jj.j + id) % 3) != 0
                           THEN '1' ELSE '0' END AS bit
                       FROM ids CROSS JOIN range(8) ii(i)
                                CROSS JOIN range(8) jj(j)),
             h AS (SELECT id, string_agg(bit, '' ORDER BY i, j) AS ahash
                   FROM cells GROUP BY id),
             hn AS (SELECT a.id,
                      CAST(sum(CASE WHEN a.bit != b.bit THEN 1 ELSE 0 END)
                        AS BIGINT) AS hamming_next
                    FROM cells a JOIN cells b
                      ON ((a.id + 1) % 24) = b.id
                        AND a.i = b.i AND a.j = b.j
                    GROUP BY a.id)
            SELECT h.id AS asset_id, h.ahash AS ahash_jpeg,
                   CAST(0 AS BIGINT) AS hamming_self, hn.hamming_next
            FROM h JOIN hn ON h.id = hn.id ORDER BY asset_id"""))

  val all: Seq[Q] = Seq(qMultimodalFeatures, qMultimodalFrames,
    qMultimodalDecode, qMultimodalAudioDecode, qMultimodalPhash,
    qMultimodalJpeg)
}
