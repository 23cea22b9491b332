package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.Multimodal

/** The m04 chunker's ASCII precondition: byte-sized chunk decode is
  * only meaningful when payload bytes == characters; non-ASCII
  * payloads must fail fast, not emit replacement characters.
  */
class MultimodalSpec extends AnyFunSuite with SparkSuite {
  private def media(text: String) = {
    import spark.implicits._
    Seq((1L, text)).toDF("doc_id", "text")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"),
        octet_length(encode(col("text"), "UTF-8")).as("n_bytes"))
  }

  test("ascii payload chunks cleanly with exact sizes") {
    val out = Multimodal.payloadChunks(media("a" * 700), chunk = 256).collect()
    assert(out.map(_.getInt(2)).toSeq == Seq(256, 256, 188))
    assert(out.map(_.getString(3).length).toSeq == Seq(256, 256, 188))
  }

  test("non-ascii payload fails fast instead of emitting replacement chars") {
    val ex = intercept[Exception] {
      Multimodal.payloadChunks(media("héllo wörld " * 30), chunk = 16).collect()
    }
    assert(ex.getMessage.contains("non-ASCII payload"),
      s"unexpected error: ${ex.getMessage}")
  }

  // --- GIMG v1 codec: declarative encode <-> imperative decode ---

  /** Hand-rolled reference encoder, independent of the Spark one. */
  private def gimgBytes(text: String, w: Int = 16): Array[Byte] = {
    val data = text.getBytes("UTF-8")
    val h = (data.length + w - 1) / w
    val bb = java.nio.ByteBuffer.allocate(13 + w * h)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    bb.put("GIMG".getBytes("US-ASCII")).put(1.toByte)
      .putShort(w.toShort).putShort(h.toShort).putInt(data.length)
      .put(data)
    bb.array() // remaining plane bytes stay zero = padding
  }

  test("gimg: declarative Spark encoder emits the exact reference layout") {
    import spark.implicits._
    val texts = Seq("hello gimg world!", "x", "a" * 16, "b" * 17, "c" * 577)
    val df = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("gimg").toString
    df.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val encoded = Multimodal.gimgMedia(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(java.util.Arrays.equals(encoded(i.toLong), gimgBytes(t)),
        s"payload mismatch for '$t'")
    }
  }

  test("gimg: decode(encode(x)) recovers exact content features") {
    val t = "The quick brown fox jumps over the lazy dog 0123456789"
    val f = Multimodal.GimgCodec.decode(7L, gimgBytes(t))
    val bytes = t.getBytes("UTF-8").map(_ & 0xff)
    assert(f.width == 16 && f.height == (t.length + 15) / 16)
    assert(f.n_pixels == f.width * f.height && f.n_data == t.length)
    assert(f.px_sum == bytes.map(_.toLong).sum)
    assert(f.px_wsum == bytes.zipWithIndex.map { case (v, i) => (i + 1).toLong * v }.sum)
    assert(f.px_min == bytes.min && f.px_max == bytes.max)
    assert(f.px_mean == bytes.map(_.toLong).sum.toDouble / t.length)
    assert(f.decoder == "gimg-v1")
  }

  test("gimg: corrupted inputs fail fast, not silently") {
    val good = gimgBytes("corruption test payload")
    def mutated(f: Array[Byte] => Array[Byte]): Array[Byte] = f(good.clone())
    // bad magic
    var ex = intercept[IllegalArgumentException] {
      Multimodal.GimgCodec.decode(1L, mutated { b => b(0) = 'X'.toByte; b })
    }
    assert(ex.getMessage.contains("bad magic"))
    // wrong version
    ex = intercept[IllegalArgumentException] {
      Multimodal.GimgCodec.decode(1L, mutated { b => b(4) = 9.toByte; b })
    }
    assert(ex.getMessage.contains("unsupported version"))
    // truncated plane
    ex = intercept[IllegalArgumentException] {
      Multimodal.GimgCodec.decode(1L, good.dropRight(1))
    }
    assert(ex.getMessage.contains("plane"))
    // nonzero padding (last plane byte is padding for this text length)
    ex = intercept[IllegalArgumentException] {
      Multimodal.GimgCodec.decode(1L, mutated { b => b(b.length - 1) = 1.toByte; b })
    }
    assert(ex.getMessage.contains("padding"))
  }

  /** VERDICT r7 #4: the perceptual dedup contract on a known near-dup
    * pair class — every brightness-shifted re-encode must collide with
    * its original at hamming 0 (dHash gradients are shift-invariant)
    * even though the payload BYTES are pairwise distinct (m05's exact
    * hash sees nothing). sf0.001 = 500 docs, so 500 twin pairs.
    */
  test("m09: brightness-shifted re-encodes are hamming-0 twins, invisible to exact hash") {
    import spark.implicits._
    val sfDir = "/root/testdata/sf0.001"
    val nDocs = graft.ops.Tables.documents(spark, sfDir).count()
    val pairs = graft.ops.Multimodal.m09PerceptualDedup(spark, sfDir)
      .select(col("id1"), col("id2"), col("hamming"))
      .as[(Long, Long, Int)].collect()
    val twins = pairs.filter { case (a, b, _) => b == a + 100000L }
    assert(twins.length == nDocs,
      s"expected $nDocs shifted-twin pairs, found ${twins.length}")
    assert(twins.forall(_._3 == 0),
      s"a brightness shift moved the dHash: ${twins.filter(_._3 != 0).take(3).mkString(",")}")
    // the same twin set under the EXACT payload hash: zero collisions
    val docs = graft.ops.Tables.documents(spark, sfDir)
    val origH = graft.ops.Multimodal.gimgMediaOf(docs)
      .select(col("doc_id"), md5(col("payload")).as("h"))
    val shiftFrom = (32 to 126).map(_.toChar).mkString
    val shiftTo = (33 to 127).map(_.toChar).mkString
    val shiftH = graft.ops.Multimodal.gimgMediaOf(
        docs.select(col("doc_id"),
          translate(col("text"), shiftFrom, shiftTo).as("text")))
      .select(col("doc_id"), md5(col("payload")).as("h2"))
    val exactCollisions = origH.join(shiftH, Seq("doc_id"))
      .filter(col("h") === col("h2")).count()
    assert(exactCollisions == 0,
      s"$exactCollisions shifted payloads hash-collide — the shift is not changing bytes")
  }
}
