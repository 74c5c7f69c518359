package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.core.Checkpoints.MaterializeOps
import Catalog._

/** Relational graph analytics over the part co-purchase graph (parts are
  * adjacent when they appear in the same order — the classic
  * market-basket projection of lineitem).
  *
  * Connected components already live in [[Dedup]] (`q_dedup_cluster`,
  * large-star/small-star); this group adds value propagation (PageRank)
  * and motif counting (triangles) — the two other workhorse graph shapes
  * a relational engine is asked for.
  *
  * Cross-engine determinism: PageRank is computed in 1e9 fixed-point
  * integer arithmetic — every contribution is an exact integer floor
  * division (`div` in Spark, `//` in DuckDB; all operands positive, so
  * truncation = floor in both), every combine an exact integer sum —
  * so ranks are bit-identical across engines and shuffle orders, with
  * none of the double-summation fold-order hazards the float form has.
  */
object Graph extends QueryGroup {

  /** 1e9 fixed-point scale for PageRank ranks. */
  private val Scale = 1000000000L

  /** Per-order sorted item sets — the single lineitem pass every graph
    * build starts from (r19: extracted so the builders below share it,
    * and so linkPred can checkpoint THIS tiny relation instead of the
    * 1.2M-row deduplicated pair list). */
  private[queries] def baskets(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .groupBy($"l_orderkey")
      .agg(sort_array(collect_set($"l_partkey")).as("items"))
      .select($"items")
  }

  /** Canonical (src < dst) pair INSTANCES off the basket arrays, not
    * deduplicated. Row-local generator chain (posexplode anchor +
    * slice-tail explode — the r18 assoc_rules sub-probe priced it at
    * 0.48 s vs 0.91 s for nested transform lambdas); a pair that
    * co-occurs in k orders appears k times. [[symAdjacency]]'s
    * collect_set deduplicates them in its one groupBy. */
  private[queries] def pairInstances(b: DataFrame): DataFrame = {
    val s = b.sparkSession
    import s.implicits._
    b.select($"items", posexplode($"items").as(Seq("i", "src")))
      .select($"src",
        explode(slice($"items", $"i" + lit(2), size($"items"))).as("dst"))
  }

  /** One-shuffle symmetrized grouped adjacency (src, deg, nbrs), the r19
    * graph-build core: both edge directions are generated ROW-LOCALLY
    * off the baskets and a single groupBy(src) collect_set deduplicates,
    * hash-partitions AND yields deg = size(nbrs) in the same pass. It is
    * the graph family's ONE construction path: every graph query and
    * every graph artifact in [[Materialized]] derives from it. The r18
    * shape paid a separate (src, dst)-hash distinct exchange, then
    * re-derived degrees and partitioning with further exchanges per
    * consumer; every downstream relation (flat sym edges, canonical
    * pairs, the degree table) is a row-local projection/explode of this
    * one aggregate. Interleaved A/Bs (ProfileR19, sf0.1, arms
    * hash-asserted): pagerank 0.86×, reachability 0.93×, triangles
    * 0.93× on top of the generator-wedge rewrite. */
  private[queries] def symAdjacency(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val inst = pairInstances(baskets(s, d))
    val both = inst.union(inst.select($"dst".as("src"), $"src".as("dst")))
    both.groupBy($"src").agg(collect_set($"dst").as("nbrs"))
      .select($"src", size($"nbrs").cast("long").as("deg"), $"nbrs")
  }

  /** PageRank, 2 synchronous iterations, damping 0.85, over the
    * symmetrized co-purchase graph.
    *
    * Shape per iteration: adjacency ⋈ ranks on src (both sides keyed on
    * the node id), then one partial-agg shuffle summing contributions
    * per dst. The (src, dst, deg) adjacency is MATERIALIZED once
    * (eager localCheckpoint, hash-partitioned on src — the same
    * build-the-graph-once move as `reachability` below): left lazy, the
    * lineitem self-join + distinct re-executes under every reference —
    * deg, plus once per iteration — and dominated the runtime. Each
    * iteration then finds the edge side pre-partitioned, so only the
    * skinny rank relation moves. Ranks are fixed-point longs:
    * contribution = r div deg, update = 0.15·Scale + 85·Σ div 100 —
    * exact integers end to end. */
  private def pagerank(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // From-scratch path rides the one-shuffle symAdjacency (r19): the
    // grouped aggregate already carries deg, so the adjacency explode is
    // row-local and the r18 pair-list distinct exchange never happens
    // (ProfileR19 pr2: 0.86×, old 2.449 → new 2.117 s, on TOP of the
    // one-pass-adjacency 0.90× this round — the materialized twin keeps
    // pagerankOver below, whose input is the already-deduplicated
    // artifact).
    val adj = symAdjacency(s, d)
      .select($"src", $"deg", explode($"nbrs").as("dst"))
      .materialized
    pagerankIterations(adj)
  }

  /** Adjacency build + iteration body over a canonical (src < dst) edge
    * relation — the materialized-edge twin's entry (`q_graph_pagerank_pre`
    * in [[Materialized]], whose parquet artifact is already
    * deduplicated; the from-scratch query above skips this and builds
    * its adjacency straight off the baskets via [[symAdjacency]]). */
  private[queries] def pagerankOver(pairs: DataFrame): DataFrame = {
    val s = pairs.sparkSession
    import s.implicits._
    val edges = pairs.union(pairs.select($"dst".as("src"), $"src".as("dst")))
    // ONE groupBy pass builds the whole adjacency (r19, guide §2.4):
    // deg is size(nbrs) computed ROW-LOCALLY off the collected neighbor
    // array, and the explode restores the (src, deg, dst) rows already
    // hash-partitioned on src — where the r18 form paid a deg shuffle,
    // an edges⋈deg join and an explicit repartition(src) exchange for
    // the identical relation (interleaved A/B `ProfileR19 pr`: 0.90×,
    // old 2.398 s / new 2.149 s at sf0.1, arms hash-asserted). The
    // trade to name at 100 TB: the collect_list buffer holds one
    // neighbor array per node (8 B × deg), so a pathological hub costs
    // deg×8 bytes of agg memory in one task — bounded for every
    // co-occurrence graph this engine declares (lines-per-order caps
    // fanout; the ×100 probe corpus max degree is ~10³), and the
    // triangle orientation ([[rankPack]]) asserts deg < 2²³ for the same
    // reason. A graph with 100M-degree hubs would want the join form
    // back — that regime is named, not silently assumed away.
    val adj = edges.groupBy($"src").agg(collect_list($"dst").as("nbrs"))
      .select($"src", size($"nbrs").cast("long").as("deg"),
        explode($"nbrs").as("dst"))
      .materialized
    pagerankIterations(adj)
  }

  /** The 2-iteration fixed-point body over a MATERIALIZED (src, deg,
    * dst) adjacency hash-partitioned on src — shared by the from-scratch
    * query (symAdjacency path) and the artifact twin (pagerankOver). */
  private def pagerankIterations(adj: DataFrame): DataFrame = {
    val s = adj.sparkSession
    import s.implicits._
    // Iteration 1 unrolled: the initial rank is the SAME constant for
    // every node, so the first round's contribution is Scale div deg
    // straight off the adjacency — no init relation, no first join; the
    // symmetrized graph has no rank-only nodes, so the receiving node set
    // is identical to the joined form.
    def update(s: org.apache.spark.sql.Column) =
      lit(15L * Scale / 100) + expr("(85 * s) div 100")
    var rank = adj
      .select($"dst", expr(s"$Scale div deg").as("c"))
      .groupBy($"dst")
      .agg(sum($"c").as("s"))
      .select($"dst".as("node"), update($"s").as("r"))
    for (_ <- 2 to 2) {
      rank = adj
        .join(rank, adj("src") === rank("node"))
        .select($"dst", expr("r div deg").as("c"))
        .groupBy($"dst")
        .agg(sum($"c").as("s"))
        .select($"dst".as("node"), update($"s").as("r"))
    }
    rank.select($"node".as("part"), $"r".as("rank_fp"))
      .orderBy(desc("rank_fp"), $"part")
      .limit(100)
  }

  /** Degree rank packed into one long as `deg << 40 | id`, so rank
    * comparison is a single long compare and the oriented edge relation
    * stays two columns. The packing requires ids in [0, 2⁴⁰) and degrees
    * < 2²³ (the 32/32 split of rounds ≤11 capped ids at 2³², which the
    * ×100 key-shifted probe corpus exceeds; 2⁴⁰ covers key offsets to
    * ×10000 while 8.4M max degree still dwarfs any co-occurrence
    * graph's). Both bounds hold by construction here and the build
    * asserts them per row, so a violation at larger scale fails loudly
    * rather than miscounting (the unpacked (deg, id) struct form is the
    * drop-in general fallback for arbitrary ids). */
  private def rankPack(id: org.apache.spark.sql.Column,
      dg: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(id < 0 || id >= (1L << 40) || dg >= (1L << 23),
      raise_error(lit("triangles: rank packing out of range")))
      .otherwise(shiftleft(dg, 40).bitwiseOR(id))
      .cast("long")

  /** Grouped degree-oriented adjacency (u, sorted nbrs) off a
    * MATERIALIZED [[symAdjacency]]: each undirected edge {a, b} is
    * directed from the lower-rank to the higher-rank endpoint, rank =
    * (degree, id) packed by [[rankPack]], and grouped on u with its
    * out-neighbors sorted by rank — the layout the triangle core and the
    * `q_graph_triangles_pre` artifact share. Degrees already sit on the
    * grouped rows, so the src-side deg is row-local and the canonical
    * (src < dst) pairs are an explode + filter; the dst-side deg is one
    * broadcast join of the one-row-per-node relation. Out-degree under
    * degree orientation is bounded by O(√(2·|E|)) — the arboricity
    * argument behind node-iterator++ triangle counting — which is what
    * tames wedge fanout on skewed graphs: a hub with degree h and a small
    * id would otherwise sit on the left of all h of its edges and emit
    * C(h,2) wedges. */
  private[queries] def orientedAdjacency(grouped: DataFrame): DataFrame = {
    val s = grouped.sparkSession
    import s.implicits._
    grouped
      .select($"src", $"deg".as("sdeg"), explode($"nbrs").as("dst"))
      .filter($"dst" > $"src")
      .join(broadcast(grouped.select($"src".as("dst"), $"deg".as("ddeg"))),
        "dst")
      .select(
        rankPack($"src", $"sdeg").as("r_src"),
        rankPack($"dst", $"ddeg").as("r_dst"))
      .groupBy(least($"r_src", $"r_dst").as("u"))
      .agg(sort_array(collect_list(greatest($"r_src", $"r_dst"))).as("nbrs"))
  }

  /** Global triangle count (node-iterator++) over the DEGREE-ORDERED
    * oriented adjacency: wedges (b, c) are pairs of out-neighbors of the
    * lowest-rank corner u with rank(b) < rank(c), and a wedge closes when
    * c is an out-neighbor of b. Each triangle is counted exactly once,
    * from its minimum-rank corner.
    *
    * Why degree ordering and not raw id order: wedge fanout per corner is
    * C(out-deg, 2), and degree orientation bounds out-deg by O(√(2|E|))
    * (arboricity) instead of letting a high-degree hub with a small id
    * emit deg² wedges. On the sf0.1 co-purchase graph this cuts wedge
    * rows ~1.9x vs id order (GraphSpec pins the inequality).
    *
    * Build: two checkpoints, then the lazy core [[trianglesOverGrouped]].
    * The symmetrized adjacency is read twice by the orientation (the
    * exploded src rows and the broadcast dst degrees), and the grouped
    * oriented adjacency (u, sorted nbrs) is read by both sides of the
    * closure join, so each is materialized once. Leaving the oriented
    * adjacency lazy re-runs the orientation under both consumers
    * (2.5–2.6 s vs 1.7–1.8 s per triangles run on the catalog_mix slice,
    * 4 cores); leaving the symmetrized one lazy measured no faster. */
  private def triangles(s: SparkSession, d: String): DataFrame =
    trianglesOverGrouped(
      orientedAdjacency(symAdjacency(s, d).materialized).materialized)

  /** The triangle core over a grouped oriented adjacency (u, sorted
    * nbrs) — checkpointed by the from-scratch query above, parquet-backed
    * for the materialized twin (`q_graph_triangles_pre` in
    * [[Materialized]]). One lazy plan: building it runs no Spark job.
    *
    *  - Wedges are a generator chain off each sorted array (posexplode
    *    anchor + slice-tail explode): slice is 1-based, so start i+2 off
    *    the 0-based posexplode index yields exactly the elements after b,
    *    i.e. the C(out-deg, 2) pairs with rank(b) < rank(c). Generators
    *    emit the pairs row-locally; the r18 wedge self-join paid a hash
    *    build + probe over the full edge relation per wedge row.
    *  - The closure joins the wedges to `gr` on the single key b = u and
    *    checks the closing edge by binary search over the sorted nbrs
    *    array (`sorted_contains_long`): the hash relation holds one row
    *    per NODE, not one per edge, and each wedge probes one long key +
    *    log₂(out-deg) compares. Degree orientation bounds the searched
    *    arrays at O(√m).
    *  - The build side is broadcast at every size, so the wedge stream
    *    — the only relation here allowed to be huge — is never shuffled
    *    or sorted: it streams from the generators through the probe into
    *    the count partials. At the ×10 probe corpus (~12M oriented edges)
    *    this ran 0.61× of the retired bloom-pruned SHUFFLE_HASH plan,
    *    while a SHUFFLE_HASH closure without the bloom ran 1.77×
    *    (SCALE_PROBE.md). The broadcast holds ~8 B per oriented edge; a
    *    grouped adjacency that outgrows driver memory is unmeasured. */
  private[graft] def trianglesOverGrouped(gr: DataFrame): DataFrame = {
    val s = gr.sparkSession
    import s.implicits._
    val wedges = gr
      .select($"nbrs", posexplode($"nbrs").as(Seq("i", "b")))
      .select($"b",
        explode(slice($"nbrs", $"i" + lit(2), size($"nbrs"))).as("c"))
    wedges.join(broadcast(gr.as("bc")), $"b" === col("bc.u") &&
        org.apache.spark.sql.graft.SortedContainsLong
          .sortedContainsLong(col("bc.nbrs"), $"c"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Bounded BFS reachability via a RECURSIVE CTE (new SQL surface in
    * Spark 4): from the smallest part id in the graph, walk ≤ 2 hops
    * over the symmetrized co-purchase edges and report, per BFS layer,
    * how many parts are first reached there (min-depth semantics — the
    * closure may revisit a node deeper, the final aggregate keeps the
    * first visit) plus an order-independent id fold.
    *
    * The depth bound is load-bearing at scale: an unbounded closure on
    * a deg≈120 graph multiplies ~120x per level; two hops keeps the
    * working relation at deg² rows while still exercising the iterative
    * executor (UnionLoop) end to end. Deeper traversals belong to the
    * dedicated iterative shapes (q_dedup_cluster's large-star/small-star
    * CC, q_graph_pagerank's fixed-iteration loop). */
  private def reachability(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // Materialize the symmetrized adjacency ONCE (eager localCheckpoint,
    // same precedent as q_dedup_cluster's CC loop): a plain CTE would be
    // INLINED into the recursive step, re-running the lineitem self-join
    // + distinct on every UnionLoop iteration — measured 5.0 s at sf0.1,
    // ~4 edge-build executions (anchor scalar + one per level). The
    // iterative executor should walk a built graph, not rebuild it.
    // r19: the build rides symAdjacency — one groupBy(src) shuffle
    // dedups, partitions AND symmetrizes (the r18 form paid the pair list's
    // (src,dst) distinct exchange, ran its post-exchange dedup once per
    // union branch, then repartitioned on src: ProfileR19 reach A/B
    // 0.93×, old 3.386 → new 3.132 s).
    // r19 second pass: the checkpoint stays GROUPED — (src, nbrs), one
    // row per node — and the recursive term explodes the neighbor array
    // AFTER the frontier join (guide §3.3: join on the un-exploded key,
    // explode after). Each UnionLoop level now hash-builds/scans the
    // node-count relation instead of the edge-count one (20k vs 2.4M
    // rows at sf0.1 — same bytes), and only the MATCHED frontier rows
    // explode their arrays, so per-level work tracks the frontier's
    // neighborhood instead of the whole edge relation. A/B 0.58×/0.60×
    // across two fresh JVMs (ProfileR19 reach3, old 4.83 → new 2.79 s).
    // The recursive-CTE formulation (Spark 4 UnionLoop) remains the
    // declared capability row.
    // Per-invocation view name — same concurrent create/drop race as
    // triangles' oriented-edge view.
    val vn = s"graph_sym_${java.util.UUID.randomUUID.toString.take(8)}"
    symAdjacency(s, d)
      .select($"src", $"nbrs")
      .materialized
      .createOrReplaceTempView(vn)
    val out = s.sql(s"""
      WITH RECURSIVE reach(node, depth) AS (
        SELECT (SELECT min(src) FROM $vn), 0
        UNION ALL
        SELECT t.dst, r.depth + 1
        FROM reach r JOIN $vn g ON g.src = r.node
        LATERAL VIEW explode(g.nbrs) t AS dst
        WHERE r.depth < 2
      ),
      first_visit AS (
        SELECT node, CAST(min(depth) AS INT) AS min_depth
        FROM reach GROUP BY node
      )
      SELECT min_depth, COUNT(*) AS n_nodes, bit_xor(node) AS node_sig
      FROM first_visit GROUP BY min_depth ORDER BY min_depth""")
    // sql() analysis has already inlined the view's plan into `out`; drop
    // the catalog entry so the checkpointed blocks become weakly reachable
    // (ContextCleaner-collectable) once the caller drops the result. A
    // registered view would pin them for the whole session lifetime.
    s.catalog.dropTempView(vn)
    out
  }

  /** Neighbor-list cap for link prediction: wedge volume is
    * Σ C(min(deg, cap), 2), i.e. QUADRATIC in the cap once hubs saturate
    * it — 64 produced 40M wedge rows at sf0.1 (~10 s), 32 produces ~10M
    * (~3 s) with the same top-of-ranking. The cap is the declared
    * per-node neighbor sample; scale it with cluster budget, not corpus
    * size. */
  private[graft] val LinkPredCap = 32
  private[queries] val LinkPredTopK = 50

  /** Common-neighbor link prediction: rank NON-adjacent part pairs by how
    * many co-purchase neighbors they share — the classic "customers who
    * bought X also bought Y" recommendation score.
    *
    * Shape (r19 second pass): per-node sorted neighbor lists CAPPED at
    * [[LinkPredCap]] (smallest ids — deterministic; uncapped
    * common-neighbor counting IS the all-wedges problem, and top-K under
    * a documented per-node sample is the standard large-graph variant).
    * ONE [[symAdjacency]] checkpoint now feeds everything: the capped
    * array is a row-local slice(sort_array(nbrs)) of the grouped row,
    * wedges are the posexplode-anchor + slice-tail-explode generator
    * chain straight off that array (sorted ascending, so node_a < node_b
    * falls out of the generator order), and the anti-join probe side is
    * a row-local explode filtered dst > src. The r18 shape paid the
    * pair-list (src, dst)-hash distinct + a 1.2M-row pair checkpoint + a
    * separate capped groupBy + repartition(u) checkpoint + the wedge
    * SELF-JOIN machinery; all of that collapses into the one adjacency
    * groupBy. Interleaved A/B (ProfileR19 lp3, arms hash-asserted,
    * sf0.1): 0.64× and 0.74× across two fresh JVMs.
    *
    * Why this won where two near-identical r19 candidates measured
    * parity: `lp` kept the pair-list checkpoint AND added a second grouped
    * checkpoint (generator saving inside noise); `lp2` dropped the
    * checkpoints but re-generated the pair-instance stream three times.
    * Here the instance stream is generated ONCE (into the symAdjacency
    * groupBy) and every consumer is a row-local projection of the
    * result.
    *
    * Scale notes: the wedge multiset is C(cap,2)-bounded per node and
    * flows straight into its (node_a, node_b) partial agg — no join to
    * sort, which also retires the r18 LinkPredShuffleJoinMinRows gate
    * (its ×100 cell existed to stop SMJ sorting the wedge stream; there
    * is no wedge join left to demote). The anti join is hinted
    * SHUFFLE_HASH unconditionally: the flat edge side is a skinny
    * projection of a LogicalRDD (no stats, so it would never
    * auto-broadcast) and a hash build over id-pair rows needs no sort at
    * any scale; the wedge side arrives already hash-partitioned on the
    * join key from its own agg. */
  private def linkPred(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val grouped = symAdjacency(s, d).materialized
    val cappedArr = slice(sort_array($"nbrs"), 1, LinkPredCap)
    val wedges = grouped
      .select(cappedArr.as("cn"))
      .select($"cn", posexplode($"cn").as(Seq("i", "node_a")))
      .select($"node_a",
        explode(slice($"cn", $"i" + lit(2), size($"cn"))).as("node_b"))
      .groupBy($"node_a", $"node_b").agg(count(lit(1)).as("n_common"))
    val pairsFlat = grouped
      .select($"src", explode($"nbrs").as("dst"))
      .filter($"dst" > $"src")
    wedges
      .join(pairsFlat.hint("shuffle_hash"),
        $"node_a" === $"src" && $"node_b" === $"dst", "left_anti")
      .orderBy($"n_common".desc, $"node_a", $"node_b")
      .limit(LinkPredTopK)
  }

  val queries: Map[String, Q] = Map(
    "q_graph_pagerank" -> pagerank,
    "q_graph_triangles" -> triangles,
    "q_graph_reachability" -> reachability,
    "q_graph_linkpred" -> linkPred,
  )

  private val edgesCte =
    """WITH pairs AS (
      |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)""".stripMargin

  val oracle: Map[String, String] = Map(
    // Fixed-point twin: `//` is DuckDB's integer floor division (= Spark's
    // `div` on the all-positive operands here); HUGEINT intermediates are
    // cast back to BIGINT to match Spark's long schema.
    "q_graph_pagerank" ->
      s"""$edgesCte,
         |edges AS (SELECT src, dst FROM pairs
         |          UNION ALL SELECT dst, src FROM pairs),
         |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY 1),
         |r0 AS (SELECT src AS node, ${Scale}::BIGINT AS r FROM deg),
         |c1 AS (SELECT e.dst AS node, SUM(r.r // d.deg) AS s
         |       FROM edges e JOIN r0 r ON e.src = r.node
         |                    JOIN deg d ON e.src = d.src
         |       GROUP BY 1),
         |r1 AS (SELECT node,
         |         CAST(${15L * Scale / 100} + (85 * s) // 100 AS BIGINT) AS r
         |       FROM c1),
         |c2 AS (SELECT e.dst AS node, SUM(r.r // d.deg) AS s
         |       FROM edges e JOIN r1 r ON e.src = r.node
         |                    JOIN deg d ON e.src = d.src
         |       GROUP BY 1),
         |r2 AS (SELECT node,
         |         CAST(${15L * Scale / 100} + (85 * s) // 100 AS BIGINT) AS r
         |       FROM c2)
         |SELECT node AS part, r AS rank_fp FROM r2
         |ORDER BY rank_fp DESC, part LIMIT 100""".stripMargin,
    "q_graph_triangles" ->
      s"""$edgesCte
         |SELECT COUNT(*) AS n_triangles
         |FROM pairs ab JOIN pairs bc ON ab.dst = bc.src
         |JOIN pairs ac ON ab.src = ac.src AND bc.dst = ac.dst""".stripMargin,
    "q_graph_linkpred" ->
      s"""$edgesCte,
         |sym AS (SELECT src, dst FROM pairs
         |        UNION ALL SELECT dst, src FROM pairs),
         |adj AS (
         |  SELECT src, list_sort(list(DISTINCT dst))[1:$LinkPredCap] AS nbrs
         |  FROM sym GROUP BY src),
         |w AS (
         |  SELECT nbrs[i+1] AS node_a, nbrs[j+1] AS node_b
         |  FROM adj,
         |    UNNEST(range(0, len(nbrs))) AS r1(i),
         |    UNNEST(range(0, len(nbrs))) AS r2(j)
         |  WHERE i < j),
         |c AS (
         |  SELECT node_a, node_b, COUNT(*) AS n_common
         |  FROM w GROUP BY node_a, node_b)
         |SELECT c.node_a, c.node_b, c.n_common FROM c
         |WHERE NOT EXISTS (SELECT 1 FROM pairs p
         |  WHERE p.src = c.node_a AND p.dst = c.node_b)
         |ORDER BY n_common DESC, node_a, node_b LIMIT $LinkPredTopK""".stripMargin,
    "q_graph_reachability" ->
      s"""${edgesCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |sym AS (SELECT src, dst FROM pairs
         |        UNION ALL SELECT dst AS src, src AS dst FROM pairs),
         |reach(node, depth) AS (
         |  SELECT (SELECT min(src) FROM sym), 0
         |  UNION ALL
         |  SELECT e.dst, r.depth + 1
         |  FROM reach r JOIN sym e ON e.src = r.node
         |  WHERE r.depth < 2),
         |first_visit AS (
         |  SELECT node, CAST(min(depth) AS INT) AS min_depth
         |  FROM reach GROUP BY node)
         |SELECT min_depth, COUNT(*) AS n_nodes, bit_xor(node) AS node_sig
         |FROM first_visit GROUP BY min_depth ORDER BY min_depth""".stripMargin,
  )
}
