package graft.functions

import graft.SparkSpec
import graft.ops.llm.Multimodal
import org.apache.spark.sql.functions._

/** Pins the native media-hash kernels (graft_img_dhash /
  * graft_wav_envhash — optimization r20) bit-for-bit against the
  * pure-Catalyst hex-transcript references they replaced, which are
  * themselves literally the DuckDB oracle's SQL. Coverage includes the
  * planted-twin construction the oracled keys use, organic payloads,
  * every malformed class the validity guard rejects, and NULL input.
  */
class MediaHashSpec extends SparkSpec {
  import spark.implicits._

  private def assertSame(payloadHex: org.apache.spark.sql.Column,
                         n: Long, native: org.apache.spark.sql.Column,
                         ref: org.apache.spark.sql.Column): Unit = {
    val df = spark.range(0, n, 1, 2).select($"id",
      unhex(payloadHex).as("payload"))
    val bad = df.select($"id", native.as("k"), ref.as("r"))
      .filter(!($"k" <=> $"r"))
    assert(bad.isEmpty, s"kernel != reference: ${bad.take(5).mkString}")
  }

  test("img dHash kernel ≡ hex-transcript reference (organic + twins)") {
    // the q_mm_neardup payload construction, twins included
    val isTwin = $"id" % 20 === 1
    val baseId = when(isTwin, $"id" - 1).otherwise($"id")
    val pix = substring(concat((0 until 4).map(i =>
      md5(concat(lit(s"img$i:"), baseId))): _*), 1, 126)
    val pixTwin = concat(lit("00"), substring(pix, 3, 16),
      lit("00"), substring(pix, 21, 16),
      lit("00"), substring(pix, 39, 88))
    val hexPayload = concat(lit("494D47470907"),
      upper(when(isTwin, pixTwin).otherwise(pix)))
    assertSame(hexPayload, 500,
      Multimodal.dHash($"payload"),
      Multimodal.dHashHexReference($"payload"))
  }

  test("img dHash kernel ≡ reference on malformed payloads") {
    // wrong magic / wrong dims / truncated — all must be NULL on both
    val wrongMagic = concat(lit("FFFF47470907"),
      upper(substring(concat((0 until 4).map(i =>
        md5(concat(lit(s"m$i:"), $"id"))): _*), 1, 126)))
    val wrongDims = concat(lit("494D47470807"),
      upper(substring(concat((0 until 4).map(i =>
        md5(concat(lit(s"d$i:"), $"id"))): _*), 1, 126)))
    val truncated = concat(lit("494D47470907"),
      upper(substring(md5(concat(lit("t:"), $"id")), 1, 30)))
    Seq(wrongMagic, wrongDims, truncated).foreach { p =>
      assertSame(p, 50,
        Multimodal.dHash($"payload"),
        Multimodal.dHashHexReference($"payload"))
      val nulls = spark.range(0, 50, 1, 2)
        .select(unhex(p).as("payload"))
        .select(Multimodal.dHash($"payload").as("k"))
        .filter($"k".isNotNull)
      assert(nulls.isEmpty, "malformed payload must hash to NULL")
    }
  }

  test("img dHash kernel: NULL input → NULL") {
    val r = spark.range(1).select(
      Multimodal.dHash(lit(null).cast("binary")).as("k")).head()
    assert(r.isNullAt(0))
  }

  test("wav envelope kernel ≡ hex-transcript reference (organic + twins)") {
    // the q_mm_audio_neardup payload construction, twins included
    val isTwin = $"id" % 20 === 1
    val baseId = when(isTwin, $"id" - 1).otherwise($"id")
    val pcm = concat((0 until 4).map(i =>
      md5(concat(lit(s"pcm$i:"), baseId))): _*)
    val pcmTwin = concat(lit("FF00"), substring(pcm, 5, 120), lit("00FF"))
    val header = "52494646" + "00000000" + "57415645" +
      "666D7420" + "10000000" + "0100" + "0100" +
      "401F0000" + "401F0000" + "0100" + "0800" +
      "64617461" + "40000000"
    val hexPayload = concat(lit(header),
      upper(when(isTwin, pcmTwin).otherwise(pcm)))
    assertSame(hexPayload, 500,
      Multimodal.wavEnvelopeHash($"payload"),
      Multimodal.wavEnvelopeHexReference($"payload"))
  }

  test("wav envelope kernel ≡ reference on malformed payloads") {
    val pcm = concat((0 until 4).map(i =>
      md5(concat(lit(s"w$i:"), $"id"))): _*)
    val goodHeader = "52494646" + "00000000" + "57415645" +
      "666D7420" + "10000000" + "0100" + "0100" +
      "401F0000" + "401F0000" + "0100" + "0800" +
      "64617461" + "40000000"
    val badRiff = concat(lit("58" + goodHeader.drop(2)), upper(pcm))
    val badData = concat(
      lit(goodHeader.patch(72, "FFFFFFFF", 8)), upper(pcm))
    val truncated = concat(lit(goodHeader), upper(substring(pcm, 1, 40)))
    Seq(badRiff, badData, truncated).foreach { p =>
      assertSame(p, 50,
        Multimodal.wavEnvelopeHash($"payload"),
        Multimodal.wavEnvelopeHexReference($"payload"))
      val nulls = spark.range(0, 50, 1, 2)
        .select(unhex(p).as("payload"))
        .select(Multimodal.wavEnvelopeHash($"payload").as("k"))
        .filter($"k".isNotNull)
      assert(nulls.isEmpty, "malformed payload must hash to NULL")
    }
  }

  test("wav envelope kernel: NULL input → NULL") {
    val r = spark.range(1).select(
      Multimodal.wavEnvelopeHash(lit(null).cast("binary")).as("k")).head()
    assert(r.isNullAt(0))
  }

  test("uncast NULL (NullType) input → NULL on both kernels, folded " +
      "and generated; other non-binary input is still rejected") {
    def hashes() = spark.range(0, 3, 1, 1).select(
      Multimodal.dHash(lit(null)).as("img"),
      Multimodal.wavEnvelopeHash(lit(null)).as("wav")).collect()
    assert(hashes().forall(r => r.isNullAt(0) && r.isNullAt(1)))
    // constant folding off: the projection's generated code runs
    graft.ConfScope.withConfs(spark, "spark.sql.optimizer.excludedRules" ->
        "org.apache.spark.sql.catalyst.optimizer.ConstantFolding") {
      assert(hashes().forall(r => r.isNullAt(0) && r.isNullAt(1)))
    }
    Seq(lit("494D4747"), lit(7L)).foreach { bad =>
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        spark.range(1).select(Multimodal.dHash(bad)).collect()
      }
      assert(e.getMessage.contains("requires a binary argument"), e.getMessage)
    }
  }
}
