package graft

import org.apache.spark.sql.functions._

import graft.ext.Multimodal
import graft.ext.Multimodal.MediaItem

/** Multimodal plumbing: schema, partition-local decode batching, frame
  * sampling, dedup composition. The decode kernel is a real pure-JVM
  * filter bank over per-frame byte windows (no codecs in this
  * container) — these tests pin both the Spark-side contract and the
  * kernel arithmetic from first principles.
  */
class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private val items = Seq(
    MediaItem(1L, "image", "mem://a", "samebytes".getBytes("UTF-8"),
      Some(640), Some(480), None),
    MediaItem(2L, "image", "mem://b", "samebytes".getBytes("UTF-8"),
      Some(640), Some(480), None),
    MediaItem(3L, "audio", "mem://c", "otherbytes".getBytes("UTF-8"),
      None, None, Some(9000L)),
    MediaItem(4L, "video", "mem://d", "videobytes".getBytes("UTF-8"),
      None, None, Some(5000L)),
    MediaItem(5L, "video", "mem://e", "longvideo!".getBytes("UTF-8"),
      None, None, Some(60000L)),
  ).toDS()

  test("feature extraction: one row per frame, deterministic features") {
    val f = Multimodal.extractFeatures(items).cache()
    // stills → 1 frame; 5s video → 5 frames; 60s video capped at 16
    assert(f.groupBy("mediaId").count().orderBy("mediaId")
      .as[(Long, Long)].collect().toSeq ==
      Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 5L), (5L, 16L)))
    // identical bytes → identical features; re-run → identical output
    val feats = f.filter($"frameIdx" === 0).orderBy("mediaId")
      .select("feature").as[Array[Float]].collect()
    assert(feats(0).toSeq == feats(1).toSeq)
    assert(feats(0).length == Multimodal.DecodeKernel.FeatureDim)
    val again = Multimodal.extractFeatures(items)
      .filter($"frameIdx" === 0).orderBy("mediaId")
      .select("feature").as[Array[Float]].collect()
    assert(again.map(_.toSeq).toSeq == feats.map(_.toSeq).toSeq)
    // video frames differ from each other
    val v = Multimodal.extractFeatures(items).filter($"mediaId" === 4L)
      .select("feature").as[Array[Float]].collect()
    assert(v.map(_.toSeq).distinct.length == v.length)
  }

  test("exact media dups by content hash") {
    val dups = SpecOnlyOps.exactMediaDups(items.toDF(), "mediaId", "content")
    assert(dups.count() == 1)
    assert(dups.select("keep_id").as[Long].head() == 1L)
  }

  test("near-dup media composes with embedding dedup") {
    val pairs = Multimodal.nearDupMedia(items, threshold = 0.999)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L))) // identical bytes → identical features
  }

  test("frameFeature: filter-bank correlation replayed from first principles") {
    val bytes = "samebytes".getBytes("UTF-8")
    val f = Multimodal.DecodeKernel.frameFeature(bytes, 0, 1)
    assert(f.length == Multimodal.DecodeKernel.FeatureDim)
    // feature_i = Σ_t (((t%64)*31 + i*17) % 7 − 3) · byte_t — the same
    // rule the q39/q62 DuckDB oracles replay from hex(encode(text))
    val expect = (0 until 8).map { i =>
      bytes.indices.map(t =>
        (((t % 64) * 31 + i * 17) % 7 - 3) * (bytes(t) & 0xFF)).sum.toFloat
    }
    assert(f.toSeq == expect)
    // frame windows partition the byte stream: [f·n/F, (f+1)·n/F)
    val w1 = Multimodal.DecodeKernel.frameFeature(bytes, 1, 3)
    val slice = bytes.slice(bytes.length / 3, 2 * bytes.length / 3)
    val expect1 = (0 until 8).map { i =>
      slice.indices.map(t =>
        (((t % 64) * 31 + i * 17) % 7 - 3) * (slice(t) & 0xFF)).sum.toFloat
    }
    assert(w1.toSeq == expect1)
    // an empty window (more frames than bytes) is the zero vector:
    // frame 2 of 4 over 2 bytes covers [1, 1)
    assert(Multimodal.DecodeKernel.frameFeature(Array[Byte](1, 2), 2, 4)
      .toSeq == Seq.fill(8)(0.0f))
  }

  test("synthetic media from documents keeps schema + metadata rules") {
    val docs = Tables.documents(spark, sf0001)
    val media = Multimodal.syntheticMedia(spark, docs).cache()
    assert(media.count() == docs.count())
    val kinds = media.groupBy("kind").count().as[(String, Long)]
      .collect().toMap
    assert(kinds.keySet == Set("image", "audio", "video"))
    // videos carry duration, images carry dimensions
    assert(media.filter($"kind" === "video" && $"durationMs".isNull)
      .count() == 0)
    assert(media.filter($"kind" === "image" && $"widthPx".isNull)
      .count() == 0)
  }
}
