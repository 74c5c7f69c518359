package graft

import org.apache.spark.sql.functions._

/** Brute-force cross-checks for the graph family at sf0.001: rebuild the
  * co-purchase graph in plain Scala and recompute PageRank / triangles
  * independently of any SQL engine — a third opinion besides the DuckDB
  * oracle, immune to shared SQL-shape mistakes. */
class GraphSpec extends SparkTestBase {
  import spark.implicits._

  /** Canonical (src < dst) edge set, built directly from lineitem. */
  private lazy val edges: Set[(Long, Long)] = {
    val rows = graft.core.Tables.lineitem(spark, Sf0001)
      .select($"l_orderkey", $"l_partkey").as[(Long, Long)].collect()
    rows.groupBy(_._1).values.flatMap { lines =>
      val parts = lines.map(_._2).distinct.toSeq
      for (a <- parts; b <- parts if a < b) yield (a, b)
    }.toSet
  }

  test("pagerank matches an independent fixed-point recomputation") {
    val scale = 1000000000L
    val sym = edges.toSeq.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val deg = sym.groupBy(_._1).map { case (n, es) => n -> es.size.toLong }
    var rank: Map[Long, Long] = deg.map { case (n, _) => n -> scale }
    for (_ <- 1 to 2) {
      val contribs = sym.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => rank(src) / deg(src) }.sum
      }
      rank = contribs.map { case (n, s) =>
        n -> (15L * scale / 100 + 85 * s / 100)
      }
    }
    val expected = rank.toSeq
      .sortBy { case (n, r) => (-r, n) }.take(100)
    val got = SparkEntry.queries("q_graph_pagerank")(spark, Sf0001)
      .as[(Long, Long)].collect().toSeq
    assert(got == expected)
  }

  test("triangle count matches an independent enumeration") {
    val nbrs = edges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (n, es) => n -> es.map(_._2).toSet }
    val expected = edges.toSeq.map { case (a, b) =>
      (nbrs(a) & nbrs(b)).count(c => c > b)
    }.sum.toLong
    val got = SparkEntry.queries("q_graph_triangles")(spark, Sf0001)
      .collect()(0).getLong(0)
    assert(got == expected && got > 0)
  }

  test("degree orientation emits no more wedges than id orientation") {
    // The triangle query's wedge stage fans out C(out-deg, 2) per corner;
    // degree-ordered orientation bounds out-deg by arboricity where raw id
    // order lets a small-id hub emit deg² wedges. Recompute both wedge
    // totals independently and pin the inequality the rewrite relies on.
    val nbrs = edges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (n, es) => n -> es.map(_._2).toSet }
    val deg = nbrs.map { case (n, ns) => n -> ns.size }
    def choose2(k: Long) = k * (k - 1) / 2
    val idWedges = nbrs.map { case (b, ns) =>
      ns.count(_ < b).toLong * ns.count(_ > b)
    }.sum
    val rankGt = (x: Long, y: Long) =>
      deg(x) > deg(y) || (deg(x) == deg(y) && x > y)
    val degWedges = nbrs.map { case (u, ns) =>
      choose2(ns.count(v => rankGt(v, u)).toLong)
    }.sum
    assert(degWedges > 0 && idWedges > 0)
    assert(degWedges <= idWedges,
      s"degree orientation regressed wedge fanout: $degWedges > $idWedges")
  }

  test("link prediction matches an independent common-neighbor count") {
    val sym = edges.toSeq.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val adj = sym.groupBy(_._1).map { case (n, es) =>
      n -> es.map(_._2).distinct.sorted.take(graft.queries.Graph.LinkPredCap)
    }
    val counts = adj.values.flatMap { nbrs =>
      for (i <- nbrs.indices; j <- (i + 1) until nbrs.size)
        yield (nbrs(i), nbrs(j))
    }.groupBy(identity).map { case (p, xs) => p -> xs.size.toLong }
    val expected = counts.filterNot { case (p, _) => edges(p) }.toSeq
      .sortBy { case ((a, b), c) => (-c, a, b) }.take(50)
      .map { case ((a, b), c) => (a, b, c) }
    val got = SparkEntry.queries("q_graph_linkpred")(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
    // Predictions must be non-edges with genuinely shared neighbors.
    assert(got.nonEmpty && got.forall { case (a, b, c) =>
      !edges((a, b)) && c >= 1
    })
  }

  test("bloom filter admits every true dim key (no false negatives)") {
    org.apache.spark.sql.graft.GraftSqlFunctions.ensure(spark)
    graft.core.Tables.orders(spark, Sf0001)
      .createOrReplaceTempView("bloom_spec_orders")
    val missed = spark.sql("""
      SELECT count(*) FROM bloom_spec_orders
      WHERE o_totalprice > 480000.0
        AND NOT bloom_might_contain(
          (SELECT bloom_agg(xxhash64(o_orderkey)) FROM bloom_spec_orders
           WHERE o_totalprice > 480000.0),
          xxhash64(o_orderkey))""").collect()(0).getLong(0)
    assert(missed == 0)
  }

  /** Independent triangle count over an arbitrary (order, part) corpus. */
  private def triangleCount(rows: Seq[(Long, Long)]): Long = {
    val es = rows.groupBy(_._1).values.flatMap { lines =>
      val parts = lines.map(_._2).distinct
      for (a <- parts; b <- parts if a < b) yield (a, b)
    }.toSet
    val nbrs = es.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).toSet }
    es.toSeq.map { case (a, b) => (nbrs(a) & nbrs(b)).count(_ > b) }.sum.toLong
  }

  test("in-place data swap recovers exactly on re-execution (disk mode)") {
    // Under graft.checkpoint.mode=disk, evicted blocks recompute FROM
    // SOURCE, so a source overwritten IN PLACE (same object keys, same
    // lengths — the S3 overwrite scenario the cached file listing cannot
    // detect; a local-FS rewrite changes part filenames and already fails
    // loudly at the scan) feeds the new rows into a re-executed plan. The
    // triangle plan holds no state computed at construction, so the
    // re-execution must count the NEW corpus exactly.
    import java.nio.file.{Files => JF, StandardCopyOption}
    val dir = JF.createTempDirectory("graft-triswap")
    val staging = JF.createTempDirectory("graft-triswap-b")
    // Two corpora with byte-identical parquet layout: the orderkey column
    // sequence is shared, the partkey column holds the same value multiset
    // in a different order with no repeated neighbours (corpus B trades
    // each even order's second item for the next order's first item, which
    // breaks a quarter of the triangles), so dictionary + data page sizes
    // match and only the content differs — exactly what a listing-cache
    // scan cannot see.
    def corpus(rePair: Boolean): Seq[(Long, Long)] =
      (0L until 48L).flatMap { o =>
        val items =
          if (!rePair) Seq(100L + o % 8, 150L + o % 6)
          else if (o % 2 == 0) Seq(100L + o % 8, 100L + (o + 1) % 8)
          else Seq(150L + (o - 1) % 6, 150L + o % 6)
        (items :+ (200L + o % 12)).map(o -> _)
      }
    def write(rows: Seq[(Long, Long)], path: String): java.nio.file.Path = {
      spark.createDataFrame(rows).toDF("l_orderkey", "l_partkey")
        .coalesce(1).write.option("compression", "uncompressed")
        .mode("overwrite").parquet(path)
      import scala.jdk.CollectionConverters._
      JF.list(java.nio.file.Paths.get(path)).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.head
    }
    val (expectedA, expectedB) =
      (triangleCount(corpus(rePair = false)), triangleCount(corpus(rePair = true)))
    assert(expectedA != expectedB,
      s"fixture corpora must differ in triangle count: $expectedA")
    val partA = write(corpus(rePair = false), s"$dir/lineitem.parquet")
    val partB = write(corpus(rePair = true), s"$staging/lineitem.parquet")
    assert(JF.size(partA) == JF.size(partB),
      "fixture corpora must serialize to identical lengths for the " +
        s"in-place swap: ${JF.size(partA)} vs ${JF.size(partB)}")
    spark.conf.set(graft.core.Checkpoints.ModeKey, "disk")
    try {
      val df = SparkEntry.queries("q_graph_triangles")(spark, dir.toString)
      assert(df.collect()(0).getLong(0) == expectedA)
      // Swap content under the SAME file name and length, drop the local
      // checksum sidecars (content changed), evict the persisted blocks.
      JF.copy(partB, partA, StandardCopyOption.REPLACE_EXISTING)
      import scala.jdk.CollectionConverters._
      JF.list(partA.getParent).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".crc"))
        .foreach(JF.delete)
      spark.catalog.clearCache()
      // Re-execute through a DERIVED plan: re-collecting the same Dataset
      // object reuses its physical plan's cached exchange results, but
      // composing the held logical plan into any new query — the way a
      // user actually reuses a DataFrame — plans fresh exchanges that
      // recompute from the swapped source.
      assert(df.where(lit(true)).collect()(0).getLong(0) == expectedB)
      // A fresh construction over the swapped data agrees.
      assert(SparkEntry.queries("q_graph_triangles")(spark, dir.toString)
        .collect()(0).getLong(0) == expectedB)
    } finally {
      spark.conf.set(graft.core.Checkpoints.ModeKey, "local")
    }
  }
}
