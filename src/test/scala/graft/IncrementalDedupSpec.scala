package graft

import org.apache.spark.sql.functions._

import graft.ext.Dedup

/** Incremental fuzzy dedup against an at-rest LSH index: must equal the
  * batch-vs-corpus slice of the full recompute, with a broadcast probe
  * (no corpus-side shuffle before the band join).
  */
class IncrementalDedupSpec extends SparkSpec {
  import spark.implicits._

  test("incremental near-dups == batch-vs-corpus slice of full recompute") {
    val docs = Tables.documents(spark, sf0001)
    val split = 30L
    val corpus = docs.filter($"doc_id" >= split)
    val batch = docs.filter($"doc_id" < split)
    val path = java.nio.file.Files
      .createTempDirectory("graft_inc").toString + "/idx"
    Dedup.writeLshIndex(corpus, "doc_id", "text",
      n = 3, k = 8, bands = 4, path = path)
    val inc = Dedup.incrementalNearDups(spark, path, batch,
      "doc_id", "text", n = 3, k = 8, bands = 4, threshold = 0.5)
    val got = inc.select($"batch_id", $"corpus_id", $"jaccard")
      .as[(Long, Long, Double)].collect().toSeq.sortBy(p => (p._1, p._2))
    // reference: full recompute over corpus+batch, sliced to cross pairs
    // (ids are ordered id_a < id_b and batch ids < corpus ids, so the
    // cross slice is exactly id_a < split <= id_b)
    val full = Dedup.minhashNearDups(docs, "doc_id", "text",
      n = 3, k = 8, bands = 4, threshold = 0.5)
      .filter($"id_a" < split && $"id_b" >= split)
      .as[(Long, Long, Double)].collect().toSeq.sortBy(p => (p._1, p._2))
    assert(got == full)
    assert(got == got.distinct, "pair emitted more than once")
    // scale shape: the batch side is broadcast — the corpus index scan
    // must not shuffle before the candidate join
    val plan = inc.queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin"),
      s"band probe is not a broadcast join:\n$plan")
    // and dynamic partition pruning must reach the index scan: the join
    // carries the pdir partition column, so the scan's PartitionFilters
    // get a dynamicpruning IN filter — index directories no batch key
    // hashes into are never read (sharper as nDirs/batch shrinks)
    assert(plan.contains("dynamicpruning"),
      s"no dynamic partition pruning on the index scan:\n$plan")
  }

  test("appendLshIndex leaves existing index files byte-identical") {
    // the at-rest append contract (q183): append mode ADDS parquet
    // files into the same partition dirs; every pre-existing data file
    // must survive with identical bytes — an append that rewrote or
    // compacted in place would break concurrent readers and object-
    // store immutability assumptions.
    import java.nio.file.{Files, Path => JPath}
    import scala.jdk.CollectionConverters._
    val docs = Tables.documents(spark, sf0001)
    val root = Files.createTempDirectory("graft_appimm")
    val path = root.toString + "/idx"
    Dedup.writeLshIndex(docs.filter($"doc_id" >= 100), "doc_id", "text",
      n = 3, k = 8, bands = 4, path = path)
    def snapshot(): Map[String, (Long, String)] =
      Files.walk(root).iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet"))
        .map { p =>
          val md = java.security.MessageDigest.getInstance("MD5")
          val dig = md.digest(Files.readAllBytes(p))
          (root.relativize(p).toString,
            (Files.size(p), dig.map("%02x".format(_)).mkString))
        }.toMap
    val before = snapshot()
    assert(before.nonEmpty, "index write produced no parquet files")
    Dedup.appendLshIndex(
      docs.filter($"doc_id" >= 50 && $"doc_id" < 100), "doc_id", "text",
      n = 3, k = 8, bands = 4, path = path)
    val after = snapshot()
    before.foreach { case (f, sig) =>
      assert(after.get(f).contains(sig),
        s"append modified or removed pre-existing index file $f")
    }
    assert(after.size > before.size, "append added no new files")
  }
}
