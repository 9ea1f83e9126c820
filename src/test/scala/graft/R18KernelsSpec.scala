package graft

import org.apache.spark.sql.functions._

/** r18 optimization-round kernels, pinned bit-identical to the
  * compositional forms they replaced (the NativeExprsSpec discipline):
  *
  *  - `graft_h60` vs the interpreted conv(substring(md5)) chain
  *  - `graft_bloom_positions` / `graft_bloom_pos` vs the per-salt chain
  *  - `graft_merge_dot` vs the exploded (pair, term) join + sum
  *  - the size-gated exactPercentiles: small (one-aggregate
  *    `percentile`) and large (distributed dbits-binned two-level
  *    rank) paths agree on every edge
  */
class R18KernelsSpec extends SparkSpec {

  private def docs = spark.read.parquet(s"$fixtureDir/documents.parquet")

  private def chainH60(c: org.apache.spark.sql.Column) =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  test("graft_h60 == conv(substring(md5, 1, 15), 16, 10) on fixture " +
    "text, tokens, and edge strings") {
    import spark.implicits._
    val edge = Seq("", " ", "é\u0301", "0:x", "a b c").toDF("s")
    val both = docs.select(col("text").as("s")).unionByName(edge)
      .select(call_function("graft_h60", col("s")).as("fast"),
        chainH60(col("s")).as("ref"))
    assert(both.filter(!(col("fast") <=> col("ref"))).count() == 0)
  }

  test("graft_bloom_positions / graft_bloom_pos == the per-salt " +
    "pmod(h60(\"j:\" + u), m) chain, unit-major order") {
    val m = 16384L
    val toks = ext.TextOps.tokens(col("text"))
    val fast = docs.select(col("doc_id"),
      call_function("graft_bloom_positions", toks, lit(m), lit(3))
        .as("fast"))
    val ref = docs.select(col("doc_id"),
      flatten(transform(toks, t => array((0 until 3).map(j =>
        pmod(chainH60(concat(lit(s"$j:"), t)), lit(m))): _*)))
        .as("ref"))
    val j = fast.join(ref, Seq("doc_id"))
    assert(j.filter(!(col("fast") <=> col("ref"))).count() == 0)
    val single = docs
      .select(explode(toks).as("u"))
      .select(
        call_function("graft_bloom_pos", col("u"), lit(m), lit(2))
          .as("fast"),
        pmod(chainH60(concat(lit("2:"), col("u"))), lit(m)).as("ref"))
    assert(single.filter(!(col("fast") <=> col("ref"))).count() == 0)
  }

  test("graft_merge_dot == exploded (pair, term) join + integer sum " +
    "on the APSS posting relation") {
    val (w, _, prefix, _) = ext.DedupOps.apssPostings(
      docs.limit(200), "doc_id", "text", tNum = 3, tDen = 5,
      gramN = 3, idfScale = 1000L)
    val full = w.select(col("_t"), col("_id").as("_fid"))
    val cand = prefix.join(full, Seq("_t"))
      .filter(col("_pid") =!= col("_fid"))
      .select(least(col("_pid"), col("_fid")).as("_a"),
        greatest(col("_pid"), col("_fid")).as("_b"))
      .distinct()
    val vec = w.groupBy(col("_id"))
      .agg(sort_array(collect_list(struct(col("_t"), col("_w"))))
        .as("_vec"))
    val fast = cand
      .join(vec.select(col("_id").as("_a"), col("_vec").as("_va")),
        Seq("_a"))
      .join(vec.select(col("_id").as("_b"), col("_vec").as("_vb")),
        Seq("_b"))
      .select(col("_a"), col("_b"),
        call_function("graft_merge_dot", col("_va"), col("_vb"))
          .as("fast"))
    val ref = cand
      .join(w.select(col("_id").as("_a"), col("_t"),
        col("_w").as("_wa")), Seq("_a"))
      .join(w.select(col("_id").as("_b"), col("_t"),
        col("_w").as("_wb")), Seq("_b", "_t"))
      .groupBy(col("_a"), col("_b"))
      .agg(sum(col("_wa") * col("_wb")).as("ref"))
    val j = fast.join(ref, Seq("_a", "_b"), "left")
      .select(col("fast"), coalesce(col("ref"), lit(0L)).as("ref"))
    // pairs with NO shared term never reach the exploded join (inner
    // join drops them); merge_dot reports their true dot of 0.
    assert(j.filter(col("fast") =!= col("ref")).count() == 0)
    assert(fast.count() > 0)
  }

  test("DML rewrite: readers see it, tier verdicts re-probe") {
    import graft.engine.{GrainProbe, SessionCaches}
    def tmp(p: String) =
      java.nio.file.Files.createTempDirectory(p).toString
    val dir = tmp("graft_dml_inv")
    val table = s"$dir/documents.parquet"
    docs.write.parquet(table)
    def sizes(d: String) =
      ExtQueries.xDedupClusterSizes(spark, d).collect().toSeq
    val before = sizes(dir)
    // drops 10 planted originals, and with them their +10000 clones
    sinks.Dml.delete(spark, table, col("doc_id") < 10)
    val after = sizes(dir)
    assert(after != before, "second call must see the delete")
    val ref = tmp("graft_dml_ref")
    spark.read.parquet(table).write.parquet(s"$ref/documents.parquet")
    assert(after == sizes(ref))

    def probe(): Boolean =
      GrainProbe.dupTier(spark.read.parquet(table), col("text"))
    probe()
    val (f0, h0) = (SessionCaches.fills, SessionCaches.hits)
    probe()
    assert(SessionCaches.fills == f0 && SessionCaches.hits == h0 + 1,
      "a re-read of the same table reuses its verdict")
    sinks.Dml.update(spark, table,
      Map("text" -> lit("z")), col("doc_id") === 60L)
    probe()
    assert(SessionCaches.fills == f0 + 1,
      "update must clear the session's verdicts")
  }

  test("connectedComponents: driver union-find tier == iterative " +
    "closure on adversarial layouts (bit-reversed path, stars, self " +
    "loops, isolated pairs)") {
    import spark.implicits._
    // bit-reversed long path (the DedupOpsSpec adversarial case) plus
    // a star, a self loop, and disjoint pairs
    val n = 64
    val path = (0 until n - 1).map { i =>
      def rev(x: Int) = Integer.reverse(x) >>> (32 - 6)
      (rev(i).toLong + 100, rev(i + 1).toLong + 100)
    }
    val star = (1 to 5).map(i => (1000L, 1000L + i))
    val extra = Seq((5000L, 5000L), (7000L, 7001L), (7002L, 7003L))
    val pairs = (path ++ star ++ extra).toDF("id_a", "id_b")
    def run(cap: Long) = {
      spark.conf.set("spark.graft.cc.localEdgeCap", cap.toString)
      try ext.DedupOps.connectedComponents(pairs)
        .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
        .toSeq
      finally spark.conf.unset("spark.graft.cc.localEdgeCap")
    }
    val local = run(1000000L)
    val iterative = run(0L)
    assert(local == iterative)
    assert(local.nonEmpty)
  }

  test("bpeMergesBatched: driver-local vocabulary tier == distributed " +
    "rounds (same merges, ranks, freqs) on the fixture corpus") {
    def run(cap: Long) = {
      spark.conf.set("spark.graft.bpe.localVocabCap", cap.toString)
      try ext.TextOps.bpeMergesBatched(docs, "text",
          rounds = 3, window = 8)
        .orderBy("merge_rank").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
      finally spark.conf.unset("spark.graft.bpe.localVocabCap")
    }
    val local = run(1000000L)
    val dist = run(0L)
    assert(local == dist)
    assert(local.nonEmpty)
  }

  test("exactPercentiles: small one-aggregate path == distributed " +
    "dbits-binned path on a continuous column (every edge)") {
    val events = spark.read.parquet(s"$fixtureDir/events.parquet")
      .select(col("value"))
    val ps = Seq(0.05, 0.5, 0.95)
    def run(forceLarge: Boolean) = {
      spark.conf.set("spark.graft.percentile.smallBytes",
        if (forceLarge) "0" else (64L << 20).toString)
      try graft.transform.Sanitize
        .exactPercentiles(events, col("value"), ps)
        .collect()(0).toSeq
      finally spark.conf.unset("spark.graft.percentile.smallBytes")
    }
    assert(run(forceLarge = false) == run(forceLarge = true))
  }
}
