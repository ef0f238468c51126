package graft.ops

import org.apache.spark.sql.functions._
import org.scalacheck.Gen

import graft.SparkSpec

/** Randomized cross-checks: operators vs independent in-memory reference
  * implementations on generated data (seeded via Gen.sample determinism
  * not required — any sample must satisfy the property). */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  /** In-memory twin of TextExpressions.Md5Lower64: little-endian long
    * over md5 bytes 8..15 (DuckDB md5_number_lower semantics). */
  private def md5Lower64(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    var l = 0L
    var b = 15
    while (b >= 8) { l = (l << 8) | (d(b) & 0xffL); b -= 1 }
    l
  }

  test("asofJoin matches a naive per-row scan on random data") {
    val keys = 1 to 5
    val leftRows = Gen.listOfN(60, for {
      k <- Gen.oneOf(keys); t <- Gen.choose(0L, 100L)
    } yield (k, t)).sample.get.zipWithIndex
      .map { case ((k, t), i) => (i.toLong, k, t) }
    val rightRows = Gen.listOfN(40, for {
      k <- Gen.oneOf(keys); t <- Gen.choose(0L, 100L); v <- Gen.choose(0, 999)
    } yield (k, t, v)).sample.get
      // as-of requires a unique (key, time) frontier on the right
      .groupBy(r => (r._1, r._2)).map(_._2.maxBy(_._3)).toSeq
    val left = leftRows.toDF("id", "k", "t")
    val right = rightRows.toDF("k", "t", "v")
    val got = AsOf.asofJoin(left, right, Seq("k"), "t", Seq("v"))
      .collect().map(r => r.getAs[Long]("id") ->
        Option(r.getAs[java.lang.Integer]("asof_v")).map(_.toInt)).toMap
    leftRows.foreach { case (id, k, t) =>
      val expect = rightRows.filter(r => r._1 == k && r._2 <= t)
        .sortBy(r => (r._2, r._3)).lastOption.map(_._3)
      assert(got(id) === expect, s"id=$id k=$k t=$t")
    }
  }

  test("connectedComponents matches driver-side union-find on random graphs") {
    // fixed seed: a failing graph must be reproducible to debug
    val rnd = new scala.util.Random(20260812L)
    val edges = Seq.fill(150)((rnd.nextLong(61), rnd.nextLong(61)))
    // reference: plain union-find
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.filter(e => e._1 != e._2).foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.filter(e => e._1 != e._2).flatMap(e => Seq(e._1, e._2)).distinct
    val expect = nodes.map(n => n -> find(n)).toMap
    // find() roots at the minimum only if unions always attach the
    // larger root — they do above, so root == component min
    val got = Dedup.connectedComponents(edges.toDF("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expect)
  }

  test("minhash signature agreement estimates jaccard similarity") {
    // two docs sharing a known fraction of bigram shingles: with k=64
    // salted permutations, P(mh_i equal) = jaccard, so the agreeing
    // fraction concentrates near it (±~0.18 at k=64 w.h.p.)
    val common = (1 to 60).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (0L, common + " " + (1 to 20).map(i => s"a$i").mkString(" ")),
      (1L, common + " " + (1 to 20).map(i => s"b$i").mkString(" "))
    ).toDF("doc_id", "text")
    val sigs = Dedup.minHashSignatures(docs, numHashes = 64, shingleSize = 2)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.toSeq.tail).toMap
    val agree = sigs(0L).zip(sigs(1L)).count { case (a, b) => a == b }
    val est = agree.toDouble / 64
    // true bigram jaccard: 80 tokens → 79 bigrams per doc; 59 shared
    // (within the common prefix), 20 unique each (the bridge bigram
    // "w60 a1"/"w60 b1" plus 19 suffix bigrams) → 59 / (59 + 20 + 20)
    val truth = 59.0 / 99.0
    assert(math.abs(est - truth) < 0.18, s"estimate $est vs true $truth")
  }

  test("bruteForceTopK matches a naive cosine ranking on random vectors") {
    val vecs = Gen.listOfN(30, Gen.listOfN(8, Gen.choose(-100, 100)))
      .sample.get.zipWithIndex
      .map { case (v, i) => (i.toLong, v.map(_ / 100.0f).toArray) }
    val df = vecs.toDF("vec_id", "embedding")
    val got = Similarity.bruteForceTopK(df.where(col("vec_id") === 0), df, k = 5)
      .orderBy("rnk").collect().map(_.getAs[Long]("neighbor_id")).toSeq
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val (xy, xx, yy) = a.zip(b).foldLeft((0.0, 0.0, 0.0)) {
        case ((xy, xx, yy), (x, y)) =>
          (xy + x.toDouble * y.toDouble, xx + x.toDouble * x.toDouble,
           yy + y.toDouble * y.toDouble)
      }
      xy / (math.sqrt(xx) * math.sqrt(yy))
    }
    val q = vecs.head._2
    val expect = vecs.tail
      .map { case (id, v) => (id, cos(q, v)) }
      .sortBy { case (id, c) => (-c, id) }
      .take(5).map(_._1)
    assert(got === expect)
  }

  test("packSequences matches an in-memory greedy layout on random token counts") {
    val rnd = new scala.util.Random(20260812L)
    val docs = (0L until 120L)
      .map(i => (i, Seq.fill(1 + rnd.nextInt(50))("w").mkString(" ")))
    val cap = 64
    val got = Packer.packSequences(docs.toDF("doc_id", "text"),
        capacityTokens = cap, numGroups = 4)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("pack_group"), r.getAs[Long]("bin_id"), r.getAs[Long]("bin_offset")))
      .toMap
    // reference: group by the same md5 arithmetic, lay out in id order
    def bucket(saltedId: String): Long =
      (md5Lower64(saltedId) & Long.MaxValue) % 4
    val byGroup = docs
      .map { case (id, text) => (id, text.split(" ").length.toLong, bucket(s"pack|$id")) }
      .groupBy(_._3)
    byGroup.foreach { case (g, rows) =>
      var offset = 0L
      rows.sortBy(_._1).foreach { case (id, n, _) =>
        assert(got(id) === ((g, offset / cap, offset)), s"doc $id in group $g")
        offset += n
      }
    }
    assert(got.size === 120)
  }

  test("capPerKey equals an in-memory top-N-by-hash per key on random data") {
    val rnd = new scala.util.Random(42L)
    val rows = (0L until 200L).map(i => (i, s"k${rnd.nextInt(7)}"))
    val got = Sampling.capPerKey(rows.toDF("id", "key"),
        col("key"), col("id"), maxPerKey = 4)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("key"))).toSet
    def hashOrd(id: Long): Long =
      (md5Lower64(s"cap|$id") & Long.MaxValue) % 1000000L
    val expect = rows.groupBy(_._2).flatMap { case (_, ks) =>
      ks.sortBy(r => (hashOrd(r._1), r._1)).take(4)
    }.toSet
    assert(got === expect)
  }

  test("tokenBudgetMix equals an in-memory greedy prefix on random corpora") {
    val rnd = new scala.util.Random(7L)
    val rows = (0L until 300L).map { i =>
      val words = Seq.fill(rnd.nextInt(6))("w").mkString(" ")
      (i, s"s${rnd.nextInt(4)}", words)
    }
    val df = rows.toDF("doc_id", "source", "text")
    def prio(id: Long): Long = md5Lower64(s"budget|$id") & Long.MaxValue
    for (budget <- Seq(0L, 7L, 40L, 100000L)) {
      val got = Mixer.tokenBudgetMix(df, budget)
        .collect().map(_.getLong(0)).toSet
      val expect = rows.groupBy(_._2).flatMap { case (_, docs) =>
        val ordered = docs.map { case (id, _, text) =>
          (id, text.split("\\s+").count(_.nonEmpty))
        }.sortBy { case (id, _) => (prio(id), id) }
        val cum = ordered.scanLeft(0L) { case (acc, (_, n)) => acc + n }.tail
        ordered.zip(cum).takeWhile(_._2 <= budget).map(_._1._1)
      }.toSet
      assert(got === expect, s"budget=$budget")
    }
  }

  test("vector_sum_long equals an in-memory element-wise sum over many partitions") {
    val rnd = new scala.util.Random(11L)
    val dim = 16
    val rows = (0L until 400L).map { i =>
      (i % 5, Seq.fill(dim)(rnd.nextLong() % 1000000L))
    }
    val got = rows.toDF("g", "v").repartition(32)
      .groupBy("g")
      .agg(graft.functions.AggExpressions.vector_sum_long(col("v")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toMap
    val expect = rows.groupBy(_._1).map { case (g, vs) =>
      g -> vs.map(_._2).transpose.map(_.sum).toVector
    }
    assert(got === expect)
  }

  test("spanDedup equals an in-memory overlapping-gram reference on random docs") {
    val rnd = new scala.util.Random(3L)
    val vocab = Vector("aa", "bb", "cc", "dd")
    val k = 3
    val docs = (0L until 40L).map { i =>
      (i, Seq.fill(2 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    def md5Hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val toks = docs.map { case (id, t) => id -> t.split("\\s+").toVector }.toMap
    val gramDocs = scala.collection.mutable.HashMap.empty[String, Set[Long]]
    for ((id, ts) <- toks; i <- 0 to ts.size - k)
      gramDocs.updateWith(md5Hex(ts.slice(i, i + k).mkString(" ")))(
        o => Some(o.getOrElse(Set.empty) + id))
    val dup = gramDocs.collect { case (h, ds) if ds.size >= 2 => h }.toSet
    val expect = toks.map { case (id, ts) =>
      val starts = (0 to ts.size - k)
        .filter(i => dup(md5Hex(ts.slice(i, i + k).mkString(" "))))
      val removed = starts.flatMap(i => i until i + k).toSet
      val kept = ts.indices.filterNot(removed)
      (id, (kept.map(ts).mkString(" "), kept.size.toLong, removed.size.toLong))
    }
    val got = Dedup.spanDedup(docs.toDF("doc_id", "text"), k = k)
      .collect().map(r => (r.getLong(0),
        (r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got === expect)
  }

  test("span_grams equals the interpreted slice/concat_ws/md5 lambda on random docs") {
    import graft.functions.TextExpressions.span_grams
    val rnd = new scala.util.Random(16L)
    // multi-byte UTF-8 tokens (2-, 3- and 4-byte code points) beside ASCII
    val vocab = Vector("aa", "b", "é", "日本", "🙂x", "ünï")
    val docs = (0L until 60L).map { i =>
      (i, Seq.fill(rnd.nextInt(9))(vocab(rnd.nextInt(vocab.size))))
    } :+ ((60L, Seq.empty[String]))
    val df = docs.toDF("doc_id", "ts")
    for (k <- Seq(2, 3, 5)) {
      val native = transform(span_grams(col("ts"), k),
        e => struct(e("pos"), e("tok"), lower(hex(e("h")))))
      val interpreted = expr(
        s"""transform(ts, (x, i) -> struct(i AS pos, x AS tok,
            CASE WHEN i + $k <= size(ts)
                 THEN md5(to_binary(concat_ws(' ', slice(ts, i + 1, $k)), 'utf-8'))
            END AS h))""")
      val rows = df.select(col("doc_id"), native.as("n"), interpreted.as("i"))
        .collect()
      assert(rows.length === docs.size)
      rows.foreach { r =>
        assert(r.getSeq[Any](1) === r.getSeq[Any](2), s"doc ${r.getLong(0)}, k $k")
      }
      // docs shorter than k carry no digest at all; empty docs no entry
      val short = docs.filter(_._2.size < k).map(_._1).toSet
      rows.filter(r => short(r.getLong(0))).foreach { r =>
        val es = r.getSeq[org.apache.spark.sql.Row](1)
        assert(es.size === docs(r.getLong(0).toInt)._2.size)
        assert(es.forall(_.isNullAt(2)))
      }
    }
  }

  test("span_cover equals the ROWS-window cover and reassembly on random flag patterns") {
    import graft.functions.TextExpressions.span_cover
    val rnd = new scala.util.Random(61L)
    val vocab = Vector("aa", "bb", "é", "日本")
    // (stream, entries) with dense positions in shuffled (collect) order;
    // flags true / false / null, and the odd null token
    val streams = (0L until 80L).map { s =>
      val n = 1 + rnd.nextInt(12)
      s -> rnd.shuffle((0 until n).map { p =>
        (p, if (rnd.nextInt(10) == 0) null else vocab(rnd.nextInt(vocab.size)),
          rnd.nextInt(4) match {
            case 0 => java.lang.Boolean.TRUE
            case 1 => java.lang.Boolean.FALSE
            case _ => null
          })
      })
    }
    val entries = streams.toDF("s", "es")
    val flat = entries.select(col("s"), explode(col("es")).as("e"))
      .select(col("s"), col("e._1").as("pos"), col("e._2").as("tok"),
        col("e._3").as("flag"))
    for (k <- Seq(1, 2, 3, 5)) {
      val cover = org.apache.spark.sql.expressions.Window
        .partitionBy("s").orderBy("pos").rowsBetween(-(k - 1).toLong, 0L)
      val window = flat
        .withColumn("rm", max(when(col("flag"), 1).otherwise(0)).over(cover))
        .groupBy("s")
        .agg(
          concat_ws(" ", expr(
            """transform(array_sort(collect_list(
                 CASE WHEN rm = 0 THEN struct(pos, tok) END)), x -> x.tok)"""))
            .as("clean_text"),
          sum(when(col("rm") === 0, 1).otherwise(0)).cast("long").as("kept_tokens"),
          sum(when(col("rm") === 1, 1).otherwise(0)).cast("long").as("removed_tokens"))
        .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3)))
        .toMap
      val native = entries.select(col("s"), span_cover(col("es"), k, " ").as("c"))
        .collect().map { r =>
          val c = r.getStruct(1)
          r.getLong(0) -> (c.getString(0), c.getLong(1), c.getLong(2))
        }.toMap
      assert(native === window, s"k $k")
    }
    // an empty entry list keeps nothing and removes nothing
    val empty = Seq((0L, Seq.empty[(Int, String, java.lang.Boolean)])).toDF("s", "es")
      .select(span_cover(col("es"), 3, " ").as("c")).head().getStruct(0)
    assert((empty.getString(0), empty.getLong(1), empty.getLong(2)) === (("", 0L, 0L)))
    // equal positions (segmentDedup's grouped null ids) order by token,
    // as array_sort orders the (pos, tok) structs
    val ties = Seq((0L, Seq[(Int, String, java.lang.Boolean)]((1, "zz", null),
        (0, "b", null), (1, "aa", null), (0, null, null), (0, "a", null))))
      .toDF("s", "es").select(span_cover(col("es"), 1, "|").as("c")).head().getStruct(0)
    assert((ties.getString(0), ties.getLong(1)) === (("a|b|aa|zz", 5L)))
  }

  test("Rotate expression matches an in-memory matrix-vector product on random inputs") {
    val rnd = new scala.util.Random(20260815L)
    val d = 12
    val rot = Array.fill(d, d)(rnd.nextDouble() * 2 - 1)
    val vecs = (0L until 40L)
      .map(i => (i, Array.fill(d)((rnd.nextDouble() * 2 - 1).toFloat)))
    val got = vecs.toDF("vec_id", "embedding")
      .select(col("vec_id"), graft.functions.VectorExpressions.rotate(
        col("embedding"), rot.map(_.toSeq).toSeq).as("r"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    vecs.foreach { case (id, v) =>
      // the reference: ascending-d multiply-accumulate, float widened
      // per element first — must be BIT-equal, not approximately
      val expect = rot.map { row =>
        var acc = 0.0; var i = 0
        while (i < d) { acc += row(i) * v(i).toDouble; i += 1 }
        acc
      }.toSeq
      assert(got(id) === expect, s"vec $id")
    }
  }

  test("shuffleSequences is a permutation with dense in-shard positions on random inputs") {
    val rnd = new scala.util.Random(20260816L)
    val seqs = (0L until 60L)
      .map(i => (rnd.nextLong(5), i, Seq(1, 2, 3), 3L))
      .toDF("pack_group", "seq_id", "token_ids", "n_tokens")
    for (shards <- Seq(1, 3, 7)) {
      val out = Packer.shuffleSequences(seqs, numShards = shards, seed = "p")
        .select("shard", "shard_pos", "pack_group", "seq_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(out.length === 60)
      assert(out.map(t => (t._3, t._4)).toSet ===
        seqs.select("pack_group", "seq_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet)
      out.groupBy(_._1).foreach { case (sh, ts) =>
        assert(0L <= sh && sh < shards)
        assert(ts.map(_._2).sorted.toSeq === (0L until ts.length.toLong))
      }
    }
  }

  test("fp16 pack/unpack equals an arithmetic RNE reference on random floats") {
    import graft.functions.VectorExpressions.{fp16_pack, fp16_unpack}
    // independent reference: pure-arithmetic round-to-nearest-even at
    // the half quantum (Math.rint IS banker's rounding; getExponent is
    // exact) — the same derivation the DuckDB oracle runs, sharing no
    // code with the expressions' bit manipulation
    def refHalf(f: Float): Double = {
      val x = f.toDouble
      if (x == 0.0) x
      else {
        val e = math.max(Math.getExponent(x), -14)
        val step = math.pow(2.0, e - 10)
        Math.rint(x / step) * step
      }
    }
    val rnd = new scala.util.Random(20260818L)
    // magnitudes spanning normals, the subnormal-half range, and the
    // underflow-to-zero region; exact powers of two and ties included
    val floats: Seq[Float] =
      Seq.fill(400)((rnd.nextDouble() * 2 - 1) *
          math.pow(2.0, rnd.nextInt(40) - 28)).map(_.toFloat) ++
        Seq(0.0f, -0.0f, 1.0f, -1.0f, 2.0f, 0.5f, 65504.0f,
          6.103515625e-5f, 3.0517578125e-5f, 2.9802322e-8f)
    val got = floats.zipWithIndex.map { case (f, i) => (i.toLong, Seq(f)) }
      .toDF("id", "v")
      .select(col("id"), fp16_unpack(fp16_pack(col("v"))).as("h"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).head).toMap
    floats.zipWithIndex.foreach { case (f, i) =>
      assert(got(i.toLong) === refHalf(f), s"half($f)")
    }
  }

  test("ivfPqTopKPoint equals ivfPqTopKIndexed on random corpora, both layouts") {
    val rnd = new scala.util.Random(20260819L)
    val corpus = (0L until 200L)
      .map(i => (i, Array.fill(16)((rnd.nextDouble() * 2 - 1).toFloat).toSeq))
      .toDF("vec_id", "embedding")
    val q = corpus.where(col("vec_id") < 6)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    for (pl <- Seq(false, true)) {
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft-ptadc-prop-$pl").toString
      Pq.buildIvfPqIndex(corpus, dir, m = 4, ks = 8, nlist = 4,
        residual = true, pointLayout = pl, pointLayoutFiles = 2)
      val batch = rows(Pq.ivfPqTopKIndexed(q, dir, k = 3, nprobe = 2))
      assert(rows(Pq.ivfPqTopKPoint(q, dir, k = 3, nprobe = 2)) === batch,
        s"pointLayout=$pl")
    }
  }

  test("shard-store append equals rebuild on random corpora and split points") {
    val rnd = new scala.util.Random(20260820L)
    def enc(ids: Seq[Long]) = ids
      .map(i => (i, (0 until 2 + (i % 7).toInt).map(j => (i * 50 + j).toInt),
        (2 + (i % 7))))
      .toDF("doc_id", "token_ids", "n_tokens")
    def readRows(d: String) = Packer.readTokenShardStore(spark, d)
      .select("shard", "shard_pos", "skey", "pack_group", "seq_id",
        "n_tokens", "token_ids")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5),
        r.getSeq[Int](6).mkString(","))).toSet
    for (_ <- 1 to 3) {
      val n = 20L + rnd.nextInt(20)
      val split = 5L + rnd.nextInt(n.toInt - 10)
      val dA = java.nio.file.Files.createTempDirectory("graft-ssp-a").toString
      val dR = java.nio.file.Files.createTempDirectory("graft-ssp-r").toString
      Packer.writeTokenShardStore(enc(0L until split), dA,
        capacityTokens = 8, numGroups = 3, numShards = 2, seed = "p")
      Packer.appendToTokenShardStore(enc(split until n), dA, "inc")
      Packer.writeTokenShardStore(enc(0L until n), dR,
        capacityTokens = 8, numGroups = 3, numShards = 2, seed = "p")
      assert(readRows(dA) === readRows(dR), s"n=$n split=$split")
    }
  }

  test("pointNearDuplicates equals nearDuplicates on random corpora and probes") {
    val rnd = new scala.util.Random(20260817L)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff")
    def doc() = Seq.fill(3 + rnd.nextInt(6))(vocab(rnd.nextInt(vocab.size)))
      .mkString(" ")
    val corpus = (0L until 30L).map(i => (i, doc())).toDF("doc_id", "text")
    val probe = (100L until 110L).map(i => (i, doc())).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-pnd-prop").toString
    LshIndex.build(corpus, dir, shingleSize = 2, pointLayout = true,
      sortedFiles = 2)
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = asSet(LshIndex.nearDuplicates(probe, dir, threshold = 0.3))
    assert(asSet(LshIndex.pointNearDuplicates(probe, dir,
      threshold = 0.3)) === batch)
    (100L until 110L).foreach { id =>
      val one = probe.where(col("doc_id") === id)
      assert(asSet(LshIndex.pointNearDuplicates(one, dir,
        threshold = 0.3)) === batch.filter(_._1 == id), s"probe $id")
    }
  }

  test("entity decode properties: identity off entities; exact round-trip on every valid code point class") {
    import graft.functions.EntityExpressions.HtmlEntities
    val rnd = new scala.util.Random(16)
    // identity on entity-free text (no '&')
    val plain = Seq.fill(50)(Seq.fill(1 + rnd.nextInt(30))(
      ('a' + rnd.nextInt(26)).toChar).mkString).map(s => s"$s <x> #39; y;")
    plain.foreach(s => assert(HtmlEntities.decode(s) eq s)) // no-alloc path
    // decimal and hex forms of the SAME code point agree, across the
    // valid classes; invalid classes stay literal — both forms
    val valid = Seq(32, 65, 126, 160, 233, 0x2019, 0xFFFD, 0x10FFFF) ++
      Seq.fill(200)(rnd.nextInt(0x110000)).filter(HtmlEntities.validCodePoint)
    valid.foreach { c =>
      val want = new String(Character.toChars(c))
      assert(HtmlEntities.decode(s"x&#$c;y") === s"x${want}y", s"dec $c")
      assert(HtmlEntities.decode(f"x&#x$c%x;y") === s"x${want}y", s"hex $c")
      assert(HtmlEntities.decode(f"x&#X$c%X;y") === s"x${want}y", s"HEX $c")
    }
    val invalid = Seq(0, 31, 127, 159, 0xD800, 0xDFFF, 0x110000, 9999999)
    invalid.foreach { c =>
      assert(HtmlEntities.decode(s"x&#$c;y") === s"x&#$c;y", s"dec $c")
      assert(HtmlEntities.decode(f"x&#x$c%x;y") === f"x&#x$c%x;y", s"hex $c")
    }
    // every named entity decodes standalone AND survives the amp escape
    HtmlEntities.Named.foreach { case (name, rep) =>
      assert(HtmlEntities.decode(s"a &$name; b") === s"a $rep b", name)
      assert(HtmlEntities.decode(s"a &amp;$name; b") === s"a &$name; b",
        s"escaped $name")
    }
    // the equivalence claim the scaladoc argues, tested head-on:
    // the one-scan decode equals an INDEPENDENT implementation of the
    // multi-pass oracle formulation (sequential named replaces →
    // split-on-&# restore-or-decode → &amp; last) on randomized
    // adversarial strings built from entity fragments
    def referenceDecode(s: String): String = {
      var t = s
      HtmlEntities.Named.foreach { case (n, r) => t = t.replace(s"&$n;", r) }
      val decRe = "^([0-9]{1,7});".r
      val hexRe = "^[xX]([0-9a-fA-F]{1,6});".r
      val parts = t.split("&#", -1)
      val sb = new StringBuilder(parts(0))
      parts.drop(1).foreach { seg =>
        val dec = decRe.findFirstMatchIn(seg)
          .map(m => (m.group(1).toLong, m.end))
        val hex = hexRe.findFirstMatchIn(seg)
          .map(m => (java.lang.Long.parseLong(m.group(1), 16), m.end))
        dec.orElse(hex) match {
          case Some((c, e)) if c <= 0x10FFFF &&
              HtmlEntities.validCodePoint(c.toInt) =>
            sb.appendAll(Character.toChars(c.toInt)).append(seg.substring(e))
          case _ => sb.append("&#").append(seg)
        }
      }
      sb.toString.replace("&amp;", "&")
    }
    val atoms = Seq("&", "#", ";", "x", "27", "8217", "amp", "lt", "eacute",
      "plain", " ", "&#", "&amp;", "&#x27;", "&#xD800;", "&#38;", "9",
      "&unknown;", "&#999999999;", "Eacute")
    (1 to 500).foreach { _ =>
      val s = Seq.fill(1 + rnd.nextInt(12))(atoms(rnd.nextInt(atoms.size)))
        .mkString
      assert(HtmlEntities.decode(s) === referenceDecode(s), s"input '$s'")
    }
  }
}
