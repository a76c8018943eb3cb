package graft

import graft.ops.Multimodal
import org.apache.spark.sql.functions._

/** Binary-column plumbing: payload round trip through the Base64 codec and
  * the fail-loud contract of the strict decoder (the x_decode_base64 oracle
  * verifies md5-exactness at sf0.01; this spec covers what an oracle can't —
  * that corruption fails the decode itself, not just the downstream hash).
  */
class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "plain ascii text"),
    (2L, "unicode: éü中文 mixed in"),
    (3L, "multi\nline\ncontent"),
    // > 76 base64 chars: exercises the CRLF-chunked encoding path that
    // short payloads never hit (Spark's base64 chunks at 76 chars)
    (4L, "long document " * 40)
  ).toDF("doc_id", "text")

  test("base64 decode round-trips text byte-exactly (md5, chars, lines)") {
    val bin = Multimodal.asBase64Table(docs, "doc_id", "text")
    val out = Multimodal.decodeBase64Features(spark, bin, "doc_id")
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4))).toMap
    val expected = docs.select($"doc_id",
        md5(to_binary($"text", lit("utf-8"))))
      .as[(Long, String)].collect().toMap
    docs.as[(Long, String)].collect().foreach { case (id, text) =>
      val (nBytes, nChars, nLines, digest) = out(id)
      assert(nBytes == text.getBytes("UTF-8").length)
      assert(nChars == text.codePointCount(0, text.length))
      assert(nLines == text.count(_ == '\n') + 1)
      assert(digest == expected(id))
    }
  }

  test("strict decoder fails loud on a corrupted (non-alphabet) payload") {
    // '*' is outside the Base64 alphabet: a lenient MIME decoder would
    // silently skip it; the strict RFC 4648 decoder must throw
    val corrupted = docs.select($"doc_id",
      to_binary(concat(lit("*"), base64(to_binary($"text", lit("utf-8")))),
        lit("utf-8")).as("payload"))
    val ex = intercept[Exception] {
      Multimodal.decodeBase64Features(spark, corrupted, "doc_id").collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.toLowerCase.contains("base64")))
  }

  test("metadata projection prunes the payload from the read schema") {
    val dir = tempDir("graft_mm")
    Multimodal.asBinaryTable(docs, "doc_id", "text")
      .write.mode("overwrite").parquet(dir)
    val meta = Multimodal.metadata(spark.read.parquet(dir), "doc_id")
    assert(meta.count() == 4)
    val scan = meta.queryExecution.executedPlan.toString
    assert(scan.contains("ReadSchema") && !scan.contains("payload"))
  }

  test("frameSampleOffsets: slice-center frames, monotone within asset, " +
      "never past the end") {
    // 10 s at 30 fps, 4 frames: centers at 1.25/3.75/6.25/8.75 s ->
    // frames 37/112/187/262
    val media = Seq((1L, 10.0), (2L, 0.4)).toDF("media_id", "dur")
    val out = Multimodal.frameSampleOffsets(media, "media_id",
      col("dur"), fps = 30.0, k = 4)
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(out.filter(_._1 == 1L).map(_._3) == Seq(37L, 112L, 187L, 262L))
    // a 0.4 s clip has 12 frames; every sampled index must stay < 12
    val clip = out.filter(_._1 == 2L)
    assert(clip.map(_._3) == Seq(1L, 4L, 7L, 10L))
    assert(clip.forall(_._3 < 12L))
    // t_offset is frame_idx / fps
    assert(out.forall(r => math.abs(r._4 - r._3 / 30.0) < 1e-6))
    intercept[IllegalArgumentException] {
      Multimodal.frameSampleOffsets(media, "media_id", col("dur"), 30.0, 0)
    }
  }
}
