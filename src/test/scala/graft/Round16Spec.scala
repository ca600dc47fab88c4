package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.EditDistKernel

/** Round-16 pins: every optimization that changes an operator's
  * internals must keep its results bit-identical to the shape it
  * replaced.
  */
class Round16Spec extends SparkSpec {

  // ---- EditDistKernel ≡ Spark's threshold levenshtein ----------------

  private def sparkLev(a: String, b: String, d: Int): Int =
    UTF8String.fromString(a).levenshteinDistance(UTF8String.fromString(b), d)

  private def kernelLev(a: String, b: String, d: Int): Int =
    EditDistKernel.lev(UTF8String.fromString(a), UTF8String.fromString(b), d)

  test("EditDistKernel.lev equals UTF8String.levenshteinDistance on " +
      "directed cases (empty, equal, prefix/suffix-heavy, non-ASCII)") {
    val cases = Seq(
      ("", ""), ("", "a"), ("", "abcd"), ("a", ""),
      ("abc", "abc"), ("abc", "abd"), ("abc", "acb"),
      ("kitten", "sitting"), ("flaw", "lawn"),
      // long shared prefix + suffix around a small core
      ("x" * 200 + "abc" + "y" * 200, "x" * 200 + "axc" + "y" * 200),
      ("x" * 200 + "abc" + "y" * 200, "x" * 200 + "abcd" + "y" * 200),
      // overlap hazard: prefix strip must not let suffix strip cross it
      ("aaaa", "aa"), ("aa", "aaaa"), ("aaa", "aaa"),
      ("ababab", "bababa"),
      // non-ASCII (fallback path): codepoint-level, NOT byte-level
      ("café", "cafe"), ("é", "è"), ("é", "a"),
      ("naïve", "naive"), ("中文", "中文"),
      ("中文", "中斛"), ("aéb", "ab"),
      // mixed: ASCII one side, multi-byte other
      ("abc", "abç"), ("ç", "c"))
    for ((a, b) <- cases; d <- 1 to 4) {
      assert(kernelLev(a, b, d) === sparkLev(a, b, d),
        s"lev('$a','$b',$d)")
    }
  }

  test("EditDistKernel.lev equals UTF8String.levenshteinDistance on " +
      "randomized small-alphabet fuzz (distances straddle the band)") {
    val rnd = new scala.util.Random(1601)
    val alphabets = Seq("ab", "abc", "abcdef", "abé", "a中b")
    for (trial <- 0 until 4000) {
      val alpha = alphabets(trial % alphabets.length)
      def mk(n: Int): String =
        (0 until n).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
      val base = mk(rnd.nextInt(30))
      // mutate base a few times so distances cluster around the band
      var b = base
      val edits = rnd.nextInt(6)
      for (_ <- 0 until edits if b.nonEmpty) {
        val p = rnd.nextInt(b.length)
        rnd.nextInt(3) match {
          case 0 => b = b.substring(0, p) + b.substring(math.min(p + 1, b.length))
          case 1 => b = b.substring(0, p) + alpha(rnd.nextInt(alpha.length)) + b.substring(p)
          case 2 => b = b.substring(0, p) + alpha(rnd.nextInt(alpha.length)) + b.substring(math.min(p + 1, b.length))
        }
      }
      val d = 1 + rnd.nextInt(4)
      assert(kernelLev(base, b, d) === sparkLev(base, b, d),
        s"lev('$base','$b',$d)")
      assert(kernelLev(b, base, d) === sparkLev(b, base, d),
        s"lev('$b','$base',$d)")
    }
  }

  test("editDistanceJoin with the kernel verify matches the builtin-" +
      "levenshtein shape on a randomized corpus") {
    import spark.implicits._
    val rnd = new scala.util.Random(1602)
    val alpha = "abcdefgh"
    def mk(n: Int): String =
      (0 until n).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    val bases = (0 until 60).map(_ => mk(6 + rnd.nextInt(20)))
    val rows = (0 until 300).map { i =>
      val s0 = bases(rnd.nextInt(bases.length))
      var s = s0
      for (_ <- 0 until rnd.nextInt(3) if s.nonEmpty) {
        val p = rnd.nextInt(s.length)
        s = s.substring(0, p) + alpha(rnd.nextInt(alpha.length)) +
          s.substring(math.min(p + 1, s.length))
      }
      (i.toLong, s)
    }
    val df = rows.toDF("id", "s")
    val got = graft.ext.Materialize.scope(
      graft.ext.Dedup.editDistanceJoin(df, "id", "s", d = 2)
        .orderBy("id_a", "id_b").collect())
    // reference: brute-force cross join with the built-in levenshtein
    val ref = df.as("a").join(df.as("b"),
        $"a.id" < $"b.id" &&
        abs(length($"a.s") - length($"b.s")) <= 2)
      .select($"a.id".as("id_a"), $"b.id".as("id_b"),
        levenshtein($"a.s", $"b.s", 2).as("dist"))
      .filter($"dist" >= 0)
      .orderBy("id_a", "id_b").collect()
    assert(got.toSeq === ref.toSeq)
  }

  // ---- bounded collects: hot-key guards that never materialize ------

  test("BoundedCollectLongList drop mode equals collect_list + size " +
      "filter across partial/merge/serialize paths") {
    import spark.implicits._
    val rnd = new scala.util.Random(1603)
    val rows = (0 until 5000).map { _ =>
      (rnd.nextInt(40).toLong, rnd.nextInt(1000).toLong)
    }
    val df = rows.toDF("k", "v").repartition(7)
    for (cap <- Seq(1L, 3L, 50L, 1000L)) {
      val got = df.groupBy("k")
        .agg(graft.functions.BoundedCollect.boundedCollectLongList(
          col("v"), cap, failLoudly = false, "spec").as("xs"))
        .filter(col("xs").isNotNull)
        .select(col("k"), sort_array(col("xs")).as("xs"))
        .orderBy("k").collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
      val ref = df.groupBy("k").agg(collect_list(col("v")).as("xs"))
        .filter(size(col("xs")) <= cap)
        .select(col("k"), sort_array(col("xs")).as("xs"))
        .orderBy("k").collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
      assert(got.toSeq === ref.toSeq, s"cap=$cap")
    }
  }

  test("BoundedCollectLongList loud mode fails the degenerate hot key " +
      "without assembling it; under-cap groups are untouched") {
    import spark.implicits._
    val ok = (0 until 100).map(i => (i.toLong % 10, i.toLong))
    val okDf = ok.toDF("k", "v").repartition(5)
    val got = okDf.groupBy("k")
      .agg(graft.functions.BoundedCollect.boundedCollectLongList(
        col("v"), 10L, failLoudly = true, "spec").as("xs"))
      .select(col("k"), size(col("xs")).as("n")).orderBy("k").collect()
    assert(got.forall(_.getInt(1) == 10))
    // one hot key with 100k rows, cap 1000: must throw the guard
    // message, not OOM assembling the bucket
    val hot = (0 until 100000).map(i => (1L, i.toLong))
    val ex = intercept[Exception] {
      hot.toDF("k", "v").repartition(5).groupBy("k")
        .agg(graft.functions.BoundedCollect.boundedCollectLongList(
          col("v"), 1000L, failLoudly = true, "specGuard").as("xs"))
        .write.format("noop").mode("overwrite").save()
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(chain(ex).exists(c =>
      Option(c.getMessage).exists(_.contains("specGuard"))))
  }

  test("BoundedCollectSet equals collect_set under the cap (distinct " +
      "semantics, strings) and fails loudly above it") {
    import spark.implicits._
    val rnd = new scala.util.Random(1604)
    val rows = (0 until 4000).map { _ =>
      (rnd.nextInt(30).toLong, s"item${rnd.nextInt(25)}")
    }
    val df = rows.toDF("k", "v").repartition(7)
    val got = df.groupBy("k")
      .agg(graft.functions.BoundedCollect.boundedCollectSet(
        col("v"), 25L, "spec").as("xs"))
      .select(col("k"), sort_array(col("xs")).as("xs"))
      .orderBy("k").collect().map(r => (r.getLong(0), r.getSeq[String](1)))
    val ref = df.groupBy("k").agg(collect_set(col("v")).as("xs"))
      .select(col("k"), sort_array(col("xs")).as("xs"))
      .orderBy("k").collect().map(r => (r.getLong(0), r.getSeq[String](1)))
    assert(got.toSeq === ref.toSeq)
    // distinct count is what the cap measures: 40 distinct > cap 39
    val wide = (0 until 40).flatMap(i => Seq((1L, s"w$i"), (1L, s"w$i")))
    val ex = intercept[Exception] {
      wide.toDF("k", "v").repartition(5).groupBy("k")
        .agg(graft.functions.BoundedCollect.boundedCollectSet(
          col("v"), 39L, "setGuard").as("xs"))
        .write.format("noop").mode("overwrite").save()
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(chain(ex).exists(c =>
      Option(c.getMessage).exists(_.contains("setGuard"))))
  }

  test("assocRules with the in-aggregation guard fails loudly on an " +
      "oversized basket and is unchanged on legal baskets") {
    import spark.implicits._
    val legal = (0 until 50).flatMap(b =>
      (0 until 5).map(i => (b.toLong, s"i${(b + i) % 12}")))
    val out = graft.ext.Materialize.scope(graft.ext.Mining.assocRules(
      legal.toDF("b", "i"), "b", "i", minSupport = 1, maxBasketSize = 5)
      .orderBy("antecedent", "consequent").collect())
    assert(out.nonEmpty)
    val over = (0 until 20).map(i => (1L, s"x$i"))
    val ex = intercept[Exception] {
      graft.ext.Materialize.scope(graft.ext.Mining.assocRules(
        over.toDF("b", "i"), "b", "i", minSupport = 1,
        maxBasketSize = 10).collect())
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(chain(ex).exists(c =>
      Option(c.getMessage).exists(_.contains("maxBasketSize"))))
  }

  // ---- fastMd5 ≡ builtin md5 -----------------------------------------

  test("fastMd5 equals builtin md5 on directed cases, fuzz strings, " +
      "binary input, and nulls (interpreted AND codegen paths)") {
    import spark.implicits._
    import graft.functions.DigestFunctions.fastMd5
    val directed = Seq("", "a", "abc", "The quick brown fox",
      "x" * 10000, "café ☕ 中文 𝒳", " ",
      "line1\nline2\ttab", " leading and trailing ")
    val rnd = new scala.util.Random(16)
    val fuzz = (0 until 500).map { _ =>
      val n = rnd.nextInt(64)
      new String((0 until n).map(_ => (rnd.nextInt(0x2fff) + 1).toChar)
        .toArray)
    }
    val df = (directed ++ fuzz).toDF("s")
    // expression-on-column path (whole-stage codegen)
    assert(df.filter(fastMd5(col("s")) =!= md5(col("s"))).count() === 0L)
    // binary input (no implicit cast) + null propagation
    val bin = df.select(col("s").cast("binary").as("b"))
      .union(Seq.empty[String].toDF("s")
        .select(lit(null).cast("binary").as("b")))
    assert(bin.filter(
      coalesce(fastMd5(col("b")), lit("<null>")) =!=
        coalesce(md5(col("b")), lit("<null>"))).count() === 0L)
    // interpreted path: eval the kernel directly vs commons-codec
    for (s <- directed) {
      val mine = graft.functions.GraftDigest.md5Hex(
        s.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toString
      val ref = org.apache.commons.codec.digest.DigestUtils.md5Hex(
        s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      assert(mine === ref, s"md5 mismatch on ${s.take(20)}")
    }
  }

  // ---- binary-digest winnow ≡ hex-through winnow ----------------------

  test("fastMd5Bytes: lower(hex(_)) equals builtin md5, and binary " +
      "order equals hex string order") {
    import spark.implicits._
    import graft.functions.DigestFunctions.fastMd5Bytes
    val rnd = new scala.util.Random(163)
    val strs = Seq("", "a", "tie", "tie") ++
      (0 until 400).map(_ => (0 until rnd.nextInt(40))
        .map(_ => (rnd.nextInt(0x7f - 0x20) + 0x20).toChar).mkString)
    val df = strs.toDF("s")
    assert(df.filter(
      lower(hex(fastMd5Bytes(col("s")))) =!= md5(col("s"))).count() === 0L)
    // order isomorphism: sort by binary digest == sort by hex digest
    val byBin = df.select(col("s"), fastMd5Bytes(col("s")).as("kb"))
      .orderBy(col("kb")).select("s").collect().map(_.getString(0)).toSeq
    val byHex = df.select(col("s"), md5(col("s")).as("kh"))
      .orderBy(col("kh")).select("s").collect().map(_.getString(0)).toSeq
    assert(byBin === byHex)
  }

  test("posCharGrams equals explode(sequence)+substr on directed and " +
      "fuzz strings (ASCII, multi-byte, short, empty)") {
    import spark.implicits._
    val rnd = new scala.util.Random(165)
    val directed = Seq("", "a", "ab", "abc", "abcd", "hello world",
      "café ☕ 中文 𝒳 mixed", "ééééé", "中文中文中文", " lead trail ",
      "a\nb\tc", "x" * 300)
    val fuzz = (0 until 300).map { _ =>
      val alpha = Seq("ab", "abcdefgh", "aé中", "☕𝒳z")(rnd.nextInt(4))
      (0 until rnd.nextInt(50)).map(_ =>
        alpha.charAt(rnd.nextInt(alpha.length))).mkString
    }
    for (g <- Seq(1, 2, 3, 8)) {
      val df = (directed ++ fuzz).zipWithIndex
        .map { case (s, i) => (i.toLong, s) }.toDF("id", "t")
      val ref = df.select(col("id"), col("t"),
          length(col("t")).as("n"))
        .filter(col("n") >= g)
        .select(col("id"),
          explode(sequence(lit(0), col("n") - g)).as("p"),
          col("t"))
        .select(col("id"), col("p"),
          col("t").substr(col("p") + 1, lit(g)).as("gram"))
      val got = df.select(col("id"),
        graft.functions.GramFunctions.posCharGrams(col("t"), g)
          .as(Seq("p", "gram")))
      assert(got.exceptAll(ref).isEmpty && ref.exceptAll(got).isEmpty,
        s"posCharGrams g=$g diverged from explode+substr")
    }
  }

  test("winnowFingerprints/winnowMatches: binary-digest selection " +
      "equals the hex-through reference on randomized near-dup corpora") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import graft.functions.DigestFunctions.fastMd5
    val rnd = new scala.util.Random(164)
    val words = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    def sentence(n: Int): String =
      (0 until n).map(_ => words(rnd.nextInt(words.length))).mkString(" ")
    val shared = sentence(30)
    val docs = (0L until 40L).map { i =>
      val t =
        if (i % 3 == 0) sentence(5) + " " + shared + " " + sentence(5)
        else sentence(25 + rnd.nextInt(20))
      (i, t)
    }.toDF("doc_id", "text")
    val (g, w) = (8, 4)
    // the pre-r16 hex-through reference, inlined verbatim
    val withLen = docs.select(col("doc_id"), col("text").as("__t"),
      length(col("text")).as("__n"))
    val win = Window.partitionBy("doc_id").orderBy("p")
      .rowsBetween(Window.currentRow, w - 1)
    val ref = withLen.filter(col("__n") >= g + w - 1)
      .select(col("doc_id"), col("__t"), (col("__n") - g).as("__maxp"),
        explode(sequence(lit(0), col("__n") - g)).as("p"))
      .select(col("doc_id"), col("p"), col("__maxp"),
        fastMd5(col("__t").substr(col("p") + 1, lit(g))).as("k"))
      .withColumn("__m",
        min(struct(col("k"), (-col("p")).as("np"))).over(win))
      .filter(col("p") <= col("__maxp") - (w - 1))
      .select(col("doc_id"), col("__m.k").as("fp"),
        (-col("__m.np")).as("fp_pos"))
      .distinct()
    val got = graft.ext.Dedup
      .winnowFingerprints(docs, "doc_id", "text", g, w)
    assert(got.exceptAll(ref).isEmpty && ref.exceptAll(got).isEmpty,
      "binary-digest winnowFingerprints diverged from hex reference")
    // matches: pair counts over the binary fp == over the hex fp
    val refPairs = ref.select(col("doc_id"), col("fp")).distinct()
      .groupBy("fp").agg(collect_list(col("doc_id")).as("ids"))
      .select(explode(graft.ext.Dedup.bucketPairs(col("ids"),
        org.apache.spark.sql.types.LongType)).as("pr"))
      .select(col("pr.id_a"), col("pr.id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= 2L)
    val gotM = graft.ext.Dedup
      .winnowMatches(docs, "doc_id", "text", g, w, minShared = 2L)
    assert(gotM.exceptAll(refPairs).isEmpty &&
      refPairs.exceptAll(gotM).isEmpty,
      "binary-digest winnowMatches diverged from hex reference")
  }

  // ---- CharSlices ≡ explode(adjacent edge pairs) + substr ------------

  test("charSlices equals explode(transform)+substr on directed and " +
      "fuzzed edge lists (multi-byte, empty, clamped, equal edges)") {
    val sess = spark
    import sess.implicits._
    val rnd = new scala.util.Random(1603)
    val alphabets = Seq("ab", "abcdef xyz", "aé中", "α β中文d")
    val directed = Seq(
      ("", Seq(0, 0)),
      ("hello", Seq(0, 5)),
      ("hello", Seq(0, 2, 5)),
      ("hello", Seq(0, 0, 5, 5)),          // degenerate pairs drop
      ("héllo中", Seq(0, 1, 2, 3, 6)),      // multi-byte boundaries
      ("abc", Seq(0, 7)),                  // clamp past the end
      ("abc", Seq(1, 1, 1)),               // all-degenerate
      ("中文中文", Seq(0, 2, 4)))
    val fuzz = (0 until 300).map { t =>
      val alpha = alphabets(t % alphabets.length)
      val n = rnd.nextInt(40)
      val s = (0 until n).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
      val nEdges = rnd.nextInt(6) + 2
      val edges = Seq.fill(nEdges)(rnd.nextInt(n + 3)).sorted
      (s, edges)
    }
    val df = (directed ++ fuzz).zipWithIndex
      .map { case ((t, es), i) => (i.toLong, t, es) }
      .toDF("id", "t", "edges")
    val ref = df.select(col("id"), col("t"),
        explode(transform(sequence(lit(0), size(col("edges")) - 2),
          i => struct(element_at(col("edges"), i + 1).as("s"),
            element_at(col("edges"), i + 2).as("e")))).as("ck"))
      .filter(col("ck.e") > col("ck.s"))
      .select(col("id"), col("ck.s").as("s"), col("ck.e").as("e"),
        col("t").substr(col("ck.s") + 1, col("ck.e") - col("ck.s"))
          .as("slice"))
    val got = df.select(col("id"),
        graft.functions.GramFunctions.charSlices(col("t"), col("edges"))
          .as(Seq("s", "e", "slice")))
    assert(got.exceptAll(ref).isEmpty && ref.exceptAll(got).isEmpty,
      "charSlices diverged from explode+substr reference")
  }

  // ---- rankingEval: support-derived IDCG + folded group count ≡ the
  // two-sort three-scan shape it replaced -----------------------------

  test("rankingEval equals the double-ranking reference on randomized " +
      "inputs (rel ties across the k boundary, rel-0 groups, nulls)") {
    import org.apache.spark.sql.{Column, DataFrame}
    val sess = spark
    import sess.implicits._

    // the pre-r16 shape, verbatim: two groupedRowNumber sorts, top-k
    // filter + inner weight join per arm, separate per-group count
    def reference(df: DataFrame, groupCol: String, score: Column,
        tie: Column, rel: Column, k: Int): DataFrame = {
      val wDf = broadcast(graft.ext.Stats.ndcgWeights(k).zipWithIndex
        .map { case (wt, i) => (i + 1L, wt) }.toDF("__pos", "__w"))
      val base = df.select(col(groupCol), score.cast("long").as("__sc"),
          tie.as("__tie"),
          coalesce(rel.cast("long"), lit(0L)).as("__rel"))
        .filter(col("__sc").isNotNull)
      def topSum(ordered: DataFrame, out: String, withFirst: Boolean)
          : DataFrame = {
        val agg1 = sum(col("__rel").cast("decimal(38,0)") * col("__w"))
          .cast("long").as(out)
        val aggs = if (withFirst)
          Seq(min(when(col("__rel") > 0, col("__pos")))
            .as("first_rel_pos"))
        else Nil
        ordered.filter(col("__pos") <= k)
          .join(wDf, "__pos")
          .groupBy(col(groupCol))
          .agg(agg1, aggs: _*)
      }
      val actual = topSum(graft.ext.Sampling.groupedRowNumber(base,
        groupCol, Seq(col("__sc").desc, col("__tie").asc), "__pos"),
        "dcg_scaled", withFirst = true)
      val ideal = topSum(graft.ext.Sampling.groupedRowNumber(base,
        groupCol, Seq(col("__rel").desc, col("__tie").asc), "__pos"),
        "idcg_scaled", withFirst = false)
      val n = base.groupBy(col(groupCol)).agg(count(lit(1)).as("n"))
      n.join(actual, Seq(groupCol)).join(ideal, Seq(groupCol))
        .select(col(groupCol), col("n"), col("dcg_scaled"),
          col("idcg_scaled"),
          when(col("idcg_scaled") > 0,
            expr("(cast(dcg_scaled AS decimal(38,0)) * 1000000)" +
              " div idcg_scaled").cast("long")).as("ndcg_ppm"),
          col("first_rel_pos"),
          when(col("first_rel_pos").isNotNull,
            expr("1000000 div first_rel_pos").cast("long")).as("rr_ppm"))
    }

    val rnd = new scala.util.Random(1602)
    // rel values cluster so ideal-ranking ties straddle every k; one
    // group is all-rel-0 (idcg 0 → null ndcg); some null scores/rels
    val rows = (0 until 400).map { i =>
      val g = s"g${i % 4}"
      val sc: java.lang.Long =
        if (rnd.nextInt(20) == 0) null else rnd.nextInt(12).toLong
      val rel: java.lang.Long =
        if (g == "g3") 0L
        else if (rnd.nextInt(10) == 0) null
        else Seq(0L, 0L, 1L, 2L, 5L)(rnd.nextInt(5))
      (g, sc, i.toLong, rel)
    }
    val df = rows.toDF("g", "sc", "id", "rel")
    for (k <- Seq(1, 3, 10, 50)) {
      val got = graft.ext.Stats.rankingEval(df, "g", col("sc"),
        col("id"), col("rel"), k)
      val ref = reference(df, "g", col("sc"), col("id"), col("rel"), k)
      assert(got.exceptAll(ref).isEmpty && ref.exceptAll(got).isEmpty,
        s"rankingEval diverged from the double-ranking reference at k=$k")
    }
  }
}
