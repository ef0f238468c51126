package graft.ops

import graft.SparkSpec

class GraphSpec extends SparkSpec {
  import spark.implicits._

  /** In-memory reference: same integer recurrence, plain Scala —
    * including the uniform integer redistribution of dangling mass. */
  private def refRank(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val out = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val dangling = nodes.filterNot(out.contains)
    var r = nodes.map(_ -> 1000000L).toMap
    for (_ <- 1 to iters) {
      val share = if (dangling.isEmpty) 0L else dangling.map(r).sum / nodes.size
      val in = edges.groupBy(_._2).view.mapValues { es =>
        es.map { case (s, _) => r(s) / out(s) }.sum
      }.toMap
      r = nodes.map { n =>
        n -> (150000L + (in.getOrElse(n, 0L) + share) * 85L / 100L)
      }.toMap
    }
    r
  }

  test("integer PageRank matches the in-memory recurrence on a planted graph") {
    // two triangles bridged by one edge pair + a pendant vertex, symmetric
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L),
      (5L, 6L), (4L, 6L), (6L, 7L))
    val edges = und ++ und.map(_.swap)
    val got = Graph.pageRank(edges.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    assert(got === refRank(edges, 5))
    // hubs (deg-3 bridge nodes) outrank the pendant leaf
    assert(got(4L) > got(7L) && got(3L) > got(7L))
  }

  test("dangling-node mass is redistributed, matching the reference") {
    // 4 is a sink (no out-edge) and 5 a source (no in-edge): the general
    // directed shape the symmetric fast path never sees
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (3L, 4L), (5L, 1L))
    val got = Graph.pageRank(edges.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    assert(got === refRank(edges, 5))
    // every node present, including the source (in = 0 + share only)
    assert(got.keySet === Set(1L, 2L, 3L, 4L, 5L))
    // mass is redistributed, not lost: totals exceed the no-feedback floor
    assert(got(4L) > 150000L)
  }

  test("reliable checkpoint dir yields identical ranks") {
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    val edges = und ++ und.map(_.swap)
    val dir = java.nio.file.Files.createTempDirectory("graft-ck").toString
    val local = Graph.pageRank(edges.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    val reliable = withCheckpointDir(dir) {
      Graph.pageRank(edges.toDF("src", "dst")).as[(Long, Long)].collect().toMap
    }
    assert(reliable === local)
  }

  test("co-purchase edges are symmetric, distinct, and self-loop-free") {
    val li = Seq((100L, 1L), (100L, 2L), (100L, 2L), // dup lineitem collapses
      (101L, 2L), (101L, 3L), (102L, 9L))            // singleton order → no edge
      .toDF("l_orderkey", "l_partkey")
    val got = Graph.coPurchaseEdges(li).as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)))
  }

  test("partRank covers exactly the co-purchased parts") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val nodes = Graph.coPurchaseEdges(li).select("src").distinct().count()
    val ranked = Graph.partRank(li)
    assert(ranked.count() === nodes)
    assert(ranked.where($"rank_micro" < 150000L).count() === 0) // damping floor
  }

  test("hostLinkEdges: href extraction, domain canonicalization, self-loop drop, parallel-link counts") {
    import org.apache.spark.sql.functions.col
    val pages = Seq(
      // two parallel links to b.com (one www/mixed-case), one self-link
      // (dropped), one single-quoted href (outside the documented
      // subset — not extracted), one non-URL href (empty domain,
      // dropped)
      ("a.com", """<p>x</p><a href="http://b.com/1">1</a>""" +
        """<A HREF="https://WWW.B.com/2#f">2</A>""" +
        """<a href="http://a.com/self">s</a>""" +
        """<a href='http://c.com/sq'>sq</a>""" +
        """<a href="not a url">n</a>"""),
      ("b.com", """<a class="z" href="http://a.com/back">b</a>""")
    ).toDF("src_domain", "html")
    val got = Graph.hostLinkEdges(pages).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(got === Map(("a.com", "b.com") -> 2L, ("b.com", "a.com") -> 1L))
    // hostRank completes over the node universe: a host with no
    // in-links keeps its damped base rank and never drops out
    val pages2 = Seq(
      ("only-out.com", """<a href="http://hub.com/x">h</a>"""),
      ("hub.com", """<a href="http://only-out.com/y">o</a>""" +
        """<a href="http://sink-less.com/z">s</a>"""))
      .toDF("src_domain", "html")
    val ranks = Graph.hostRank(pages2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ranks.keySet === Set("only-out.com", "hub.com", "sink-less.com"))
    assert(ranks.values.forall(_ >= 150000L))
  }

  test("weighted PageRank: w = 1 is bit-identical to unweighted; multiplicity shifts rank mass") {
    import org.apache.spark.sql.functions.{col, lit}
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L))
      .toDF("src", "dst")
    val plain = Graph.pageRank(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val unit = Graph.pageRank(edges.withColumn("w", lit(1L)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(unit === plain)
    // a hub endorsing `a` 100× and `b` once: unweighted splits evenly,
    // weighted routes ~99% of the hub's vote to `a`
    val pages = Seq(
      ("hub.com", (1 to 100).map(i =>
        s"""<a href="http://a.com/$i">x</a>""").mkString +
        """<a href="http://b.com/1">y</a>"""),
      ("a.com", """<a href="http://hub.com/h">h</a>"""),
      ("b.com", """<a href="http://hub.com/h">h</a>"""))
      .toDF("src_domain", "html")
    val uw = Graph.hostRank(pages)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val w = Graph.weightedHostRank(pages)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(uw("a.com") === uw("b.com")) // unweighted can't see the 100×
    assert(w("a.com") > w("b.com"))
    assert(w.keySet === uw.keySet)
    // weight mass is conserved into the same damped floor
    assert(w.values.forall(_ >= 150000L))
  }

  test("partRank with a reliable checkpoint dir is bit-equal to local") {
    // the session dir covers BOTH the co-purchase pair materialization
    // and the PageRank loop — the cluster fault-tolerance path must not
    // change a single rank
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft-ck-pr").toString
    val local = Graph.partRank(li).as[(Long, Long)].collect().toMap
    val reliable = withCheckpointDir(dir) {
      Graph.partRank(li).as[(Long, Long)].collect().toMap
    }
    assert(reliable === local)
  }
}
