package graft.sources

import org.apache.spark.sql.SparkSession

/** Deterministic multimodal fixture: 400 binary image payloads (real
  * PNG/JPEG/GIF/BMP container bytes from [[ImageMeta.synthesize]]) plus a
  * twin metadata parquet. The x21 gate query parses the BINARY payloads
  * with [[ImageMeta.parse]]; the oracle reads the twin — a hash match
  * proves the byte-level header parsing end-to-end. */
object ImageFixture {
  val dir = Fixture.dir("graft_images")
  val twinPath = s"$dir/twin"

  private val formats = Seq("image/png", "image/jpeg", "image/gif", "image/bmp")

  def rows: Seq[(Long, Array[Byte], String, Int, Int)] = (0 until 400).map { i =>
    val fmt = formats(i % formats.size)
    val w = 16 + (i * 13) % 2048
    val h = 16 + (i * 29) % 1536
    (i.toLong, ImageMeta.synthesize(fmt, w, h, junk = 64 + (i * 17) % 512, seed = i), fmt, w, h)
  }

  def ensure(spark: SparkSession): Unit = Fixture.at(dir, "v1") {
    import spark.implicits._
    val r = rows
    Payloads.write(spark, dir, "img_id", r.map { case (id, p, _, _, _) => (id, p) })
    r.map { case (id, p, f, w, h) => (id, f, w, h, p.length.toLong) }
      .toDF("img_id", "format", "width", "height", "n_bytes")
      .coalesce(1).write.mode("overwrite").parquet(twinPath)
  }
}

/** MP4 twin fixture for the x23 video-metadata gate query. */
object VideoFixture {
  val dir = Fixture.dir("graft_video")
  val twinPath = s"$dir/twin"

  def rows: Seq[(Long, Array[Byte], Int, Int, Long)] = (0 until 200).map { i =>
    val w = 160 + (i * 16) % 3840
    val h = 120 + (i * 9) % 2160
    val durMs = 500L + (i * 733) % 600000
    (i.toLong, VideoMeta.synthesize(w, h, durMs, junk = 32 + (i * 19) % 256, seed = i), w, h, durMs)
  }

  def ensure(spark: SparkSession): Unit = Fixture.at(dir, "v1") {
    import spark.implicits._
    val r = rows
    Payloads.write(spark, dir, "video_id", r.map { case (id, p, _, _, _) => (id, p) })
    r.map { case (id, _, w, h, durMs) => (id, w, h, durMs) }
      .toDF("video_id", "width", "height", "duration_ms")
      .coalesce(1).write.mode("overwrite").parquet(twinPath)
  }
}

/** WAV twin fixture for the x22 audio-metadata gate query (same pattern as
  * [[ImageFixture]]: binary payloads + independent metadata twin). */
object AudioFixture {
  val dir = Fixture.dir("graft_audio")
  val twinPath = s"$dir/twin"

  private val rates = Seq(8000, 16000, 22050, 44100, 48000)

  def rows: Seq[(Long, Array[Byte], Int, Int, Int, Long)] = (0 until 300).map { i =>
    val rate = rates(i % rates.size)
    val channels = 1 + (i % 2)
    val bits = if (i % 3 == 0) 8 else 16
    val nSamples = 50 + (i * 37) % 3000
    val p = AudioMeta.synthesize(rate, channels, bits, nSamples, seed = i)
    val meta = AudioMeta.Meta("audio/wav", rate, channels, bits, (nSamples * channels * (bits / 8)).toLong)
    (i.toLong, p, rate, channels, bits, meta.durationMs)
  }

  def ensure(spark: SparkSession): Unit = Fixture.at(dir, "v1") {
    import spark.implicits._
    val r = rows
    Payloads.write(spark, dir, "audio_id", r.map { case (id, p, _, _, _, _) => (id, p) })
    r.map { case (id, _, rate, ch, bits, durMs) => (id, rate, ch, bits, durMs) }
      .toDF("audio_id", "sample_rate", "channels", "bits", "duration_ms")
      .coalesce(1).write.mode("overwrite").parquet(twinPath)
  }
}
