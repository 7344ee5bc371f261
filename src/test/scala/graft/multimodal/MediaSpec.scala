package graft.multimodal

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

class MediaSpec extends SparkSpec {

  private lazy val dir: String = {
    val d = graft.Scratch.fresh("media")
    (0 until 5).foreach { i =>
      val bytes = Array.tabulate[Byte](100 + i * 37)(j => ((i * 31 + j * 7) % 256).toByte)
      Files.write(Paths.get(d, s"asset_$i.jpg"), bytes)
    }
    Files.write(Paths.get(d, "ignore.txt"), Array[Byte](1, 2, 3))
    d
  }

  test("binaryFile ingestion: glob filter, ids, opaque content, meta struct") {
    val media = Media.ingest(spark, dir, "image", glob = "*.jpg")
    assert(media.count() === 5)
    assert(media.schema("content").dataType.typeName === "binary")
    assert(media.select("meta.format").distinct().head().getString(0) === "jpg")
    assert(media.select("media_id").distinct().count() === 5)
  }

  test("batched mapPartitions feature extraction: stable shapes and values") {
    implicit val s = spark
    val media = Media.ingest(spark, dir, "image", glob = "*.jpg")
    val feats = Media.extractFeatures(media, batchSize = 2).collect()
    assert(feats.length === 5)
    feats.foreach { f =>
      assert(f.feature.length === 16)
      assert(f.n_bytes >= 100)
      assert(f.byte_entropy >= 0.0 && f.byte_entropy <= 8.0)
      assert(f.byte_mean >= 0.0 && f.byte_mean <= 255.0)
    }
    // deterministic: same input → same features
    val again = Media.extractFeatures(media, batchSize = 3).collect()
    assert(feats.sortBy(_.media_id).map(_.byte_mean).toSeq ===
      again.sortBy(_.media_id).map(_.byte_mean).toSeq)
  }

  test("real image decode recovers true dimensions from PNG and JPEG bytes") {
    implicit val s = spark
    val imgDir = graft.Scratch.fresh("media_png")
    // Deterministic real images, written with the same JDK codec stack the
    // executors decode with.
    def writeImage(name: String, fmt: String, w: Int, h: Int): Unit = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until w).foreach(x => (0 until h).foreach(y =>
        img.setRGB(x, y, (x * 31 + y * 7) % 0xffffff)))
      javax.imageio.ImageIO.write(img, fmt, new java.io.File(imgDir, name))
    }
    writeImage("a.png", "png", 3, 5)
    writeImage("b.png", "png", 17, 2)
    writeImage("c.jpg", "jpg", 4, 9)
    val media = Media.ingest(spark, imgDir, "image", glob = "*.{png,jpg}")
    val feats = Media.extractFeatures(media).collect()
      .map(f => f.media_id -> f).toMap
    val byName = media.select("media_id", "uri").collect()
      .map(r => r.getString(1).split('/').last -> r.getLong(0)).toMap
    assert(feats(byName("a.png")).width.contains(3))
    assert(feats(byName("a.png")).height.contains(5))
    assert(feats(byName("b.png")).width.contains(17))
    assert(feats(byName("b.png")).height.contains(2))
    assert(feats(byName("c.jpg")).width.contains(4))
    assert(feats(byName("c.jpg")).height.contains(9))
    // Undecodable bytes (the fake 'jpg' fixtures) and non-image kinds → None.
    val fake = Media.extractFeatures(Media.ingest(spark, dir, "image", glob = "*.jpg"))
      .collect()
    assert(fake.forall(f => f.width.isEmpty && f.height.isEmpty))
    val audio = Media.extractFeatures(Media.ingest(spark, imgDir, "audio", glob = "*.png"))
      .collect()
    assert(audio.forall(f => f.width.isEmpty && f.height.isEmpty))
  }

  test("real audio decode recovers duration/rate/channels from WAV bytes") {
    implicit val s = spark
    val audioDir = graft.Scratch.fresh("media_wav")
    // Deterministic real WAV written with the same JDK codec stack the
    // executors decode with: 8 kHz mono 16-bit PCM, 8000 frames = 1000 ms.
    def writeWav(name: String, rateHz: Float, channels: Int, frames: Int): Unit = {
      val fmt = new javax.sound.sampled.AudioFormat(rateHz, 16, channels, true, false)
      val pcm = Array.tabulate[Byte](frames * 2 * channels)(i => ((i * 31) % 256).toByte)
      val in = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
      javax.sound.sampled.AudioSystem.write(in,
        javax.sound.sampled.AudioFileFormat.Type.WAVE,
        new java.io.File(audioDir, name))
      (): Unit
    }
    writeWav("one_sec.wav", 8000f, 1, 8000)
    writeWav("half_sec_stereo.wav", 16000f, 2, 8000)
    val media = Media.ingest(spark, audioDir, "audio", glob = "*.wav")
    val feats = Media.extractFeatures(media).collect()
    val byName = media.select("media_id", "uri").collect()
      .map(r => r.getString(1).split('/').last -> r.getLong(0)).toMap
    val one = feats.find(_.media_id == byName("one_sec.wav")).get
    assert(one.duration_ms.contains(1000L))
    assert(one.sample_rate.contains(8000))
    assert(one.channels.contains(1))
    val half = feats.find(_.media_id == byName("half_sec_stereo.wav")).get
    assert(half.duration_ms.contains(500L))
    assert(half.sample_rate.contains(16000))
    assert(half.channels.contains(2))
    // Non-audio bytes under kind=audio, and audio fields on images → None.
    val junk = Media.extractFeatures(Media.ingest(spark, dir, "audio", glob = "*.jpg"))
      .collect()
    assert(junk.forall(f => f.duration_ms.isEmpty && f.sample_rate.isEmpty))
  }

  test("video metadata decode: MP4 container headers through extractFeatures") {
    implicit val s = spark
    val vidDir = graft.Scratch.fresh("media_mp4")
    // Minimal real ISO-BMFF: ftyp + moov(mvhd ts=600 dur=3000 -> 5000 ms,
    // trak/tkhd 320x240) — same builder logic as ContainersSpec.
    def box(typ: String, payload: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(8 + payload.length)
      bb.putInt(8 + payload.length); bb.put(typ.getBytes("US-ASCII")); bb.put(payload)
      bb.array()
    }
    val mvhd = { val p = java.nio.ByteBuffer.allocate(100); p.putInt(12, 600); p.putInt(16, 3000); box("mvhd", p.array()) }
    val tkhd = { val p = java.nio.ByteBuffer.allocate(84); p.putInt(76, 320 << 16); p.putInt(80, 240 << 16); box("tkhd", p.array()) }
    val ftyp = box("ftyp", "isom".getBytes("US-ASCII") ++ Array[Byte](0, 0, 0, 1) ++ "isom".getBytes("US-ASCII"))
    Files.write(Paths.get(vidDir, "clip.mp4"), ftyp ++ box("moov", mvhd ++ box("trak", tkhd)))
    Files.write(Paths.get(vidDir, "junk.mp4"), Array.fill[Byte](64)(0x2a))
    val feats = Media.extractFeatures(Media.ingest(spark, vidDir, "video", glob = "*.mp4")).collect()
    val byName = Media.ingest(spark, vidDir, "video", glob = "*.mp4")
      .select("media_id", "uri").collect()
      .map(r => r.getString(1).split('/').last -> r.getLong(0)).toMap
    val clip = feats.find(_.media_id == byName("clip.mp4")).get
    assert(clip.duration_ms.contains(5000L))
    assert(clip.width.contains(320) && clip.height.contains(240))
    val junk = feats.find(_.media_id == byName("junk.mp4")).get
    assert(junk.duration_ms.isEmpty && junk.width.isEmpty)
  }

  test("frame sampling plan explodes metadata without decoding") {
    import spark.implicits._
    val vids = Seq((1L, "video", 3500L), (2L, "video", 999L), (3L, "image", 0L))
      .toDF("media_id", "kind", "duration_ms")
      .select(col("media_id"), col("kind"),
        struct(lit("mp4").as("format"), lit(null).cast("int").as("width"),
          lit(null).cast("int").as("height"), col("duration_ms")).as("meta"))
    val plan = Media.sampleFramePlan(vids, everyMs = 1000L)
    val byId = plan.groupBy("media_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byId(1L) === 4) // 0,1000,2000,3000
    assert(byId(2L) === 1) // 0
    assert(!byId.contains(3L)) // images not sampled
  }
}
