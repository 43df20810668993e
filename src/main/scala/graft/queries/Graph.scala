package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{ConnectedComponents, Materialize}
import graft.sources.Tables

/** Graph-shaped corpus operators: duplicate-CLUSTER resolution on top of
  * the pairwise near-dup output (d2/d3 emit pairs; a real pipeline must
  * then pick one representative per transitive cluster — A~B and B~C
  * put A,B,C in one cluster even when A,C were never compared).
  *
  * Edge generation reuses the inverted-index + hot-key-cap shape of the
  * near-dup family (shuffle keyed by shingle, never all-pairs); the
  * component resolution is [[graft.ops.ConnectedComponents]] — O(log d)
  * shuffle rounds, no driver-side graph. The oracle replays the same
  * edges through a DuckDB recursive CTE (transitive closure is fine at
  * oracle scale; the Spark side never materializes it).
  */
object Graph {

  /** Doc pairs sharing >= `minShared` distinct 3-gram shingles, hot
    * shingles (df > maxDf) excluded from candidate generation — same
    * posture as d2/d3: one boilerplate shingle must not emit O(k²)
    * pairs. */
  private def sharedShingleEdges(docs: DataFrame, minShared: Int, maxDf: Int): DataFrame = {
    val sh = graft.ops.Spread.fanout(docs)
      .select(col("doc_id"), split(lower(col("text")), "\\s+").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(expr(
        "array_distinct(transform(sequence(0, size(toks)-3), i -> concat_ws(' ', slice(toks, i+1, 3))))"))
        .as("shingle_str"))
      // 64-bit-hash shingles before the shuffles (same trade as d2:
      // 8-byte keys, long compares; a 2^-64 collision only merges two
      // postings and cannot change the >= minShared edge decision in a
      // way the string-keyed oracle would detect at these densities)
      .select(col("doc_id"), xxhash64(col("shingle_str")).as("shingle"))
    // posting-list buckets + codegen'd pair expansion (see
    // LlmPipeline.buckets/bucketPairs) instead of an index self-join;
    // buckets() is single-pass since opt r17, so the explode chain is
    // consumed once and needs no checkpoint
    LlmPipeline.bucketPairs(
        LlmPipeline.buckets(sh, Seq("shingle"), maxDf))
      .groupBy(col("d1"), col("d2"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select(col("d1"), col("d2"))
  }

  /** The shared-shingle edge list PERSISTED as a derived artifact, keyed
    * by (dir, params): cc1, cc2 and pr1 all consume the same edges, and
    * a production pipeline materializes such an intermediate once per
    * corpus snapshot rather than re-deriving it per downstream job
    * (same content-stable reuse idiom as q42/q49's layouts). First
    * caller pays the derivation; the rest read parquet. */
  private[graft] def cachedEdges(s: SparkSession, dir: String,
                          minShared: Int, maxDf: Int): DataFrame =
    s.read.parquet(graft.ops.Scratch.artifact(s, "graft_edges", dir, minShared, maxDf) { stage =>
      sharedShingleEdges(Tables.documents(s, dir), minShared, maxDf)
        .write.mode("overwrite").parquet(stage)
    })

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // transitive duplicate clusters: every doc in a near-dup component
    // labeled with the component's minimum doc_id
    "cc1_dup_clusters" -> ((s, dir) => {
      val edges = cachedEdges(s, dir, minShared = 5, maxDf = 100)
      ConnectedComponents.run(edges, "d1", "d2")
        .select(col("node").as("doc_id"), col("label").as("cluster_id"))
        .orderBy(col("doc_id"))
    }),

    // END-TO-END cluster resolution: near-dup edges → transitive
    // clusters → drop every non-representative member (keep the min
    // doc_id per cluster) → the surviving corpus. This is the step the
    // whole dedup family feeds: d2/d3 emit pairs, cc1 labels clusters,
    // cc2 emits the deduplicated corpus a training run would read.
    // The non-representative set is tiny relative to the corpus, so
    // the final anti-join broadcasts under AQE — the full corpus is
    // never reshuffled.
    "cc2_cluster_resolve" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val edges = cachedEdges(s, dir, minShared = 5, maxDf = 100)
      val losers = ConnectedComponents.run(edges, "d1", "d2")
        .filter(col("node") =!= col("label"))
        .select(col("node").as("doc_id"))
      docs.join(losers, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // CLUSTER-SIZE SPECTRUM of the near-dup graph — the "how much of my
    // corpus sits in dup families of what size" curve a dedup audit
    // reads before choosing a keeper policy (a corpus dominated by
    // size-2 families dedups cheaply; a few giant families mean
    // boilerplate and need p3's segment surgery instead). Every doc
    // joins the spectrum: unclustered docs are size-1 singleton
    // clusters — the honest baseline bar, not an omission. Buckets ride
    // dq11's EXACT log2 grid (binary digit count — no libm log decides
    // a boundary). Scale shape: labels from the log-round
    // pointer-jumping CC (cachedEdges artifact), one cluster-keyed
    // count, one ≤64-bucket histogram agg; the corpus-sized frame
    // shuffles once on cluster_id.
    "gr16_cluster_size_spectrum" -> ((s, dir) => {
      import s.implicits._
      val labels = ConnectedComponents.run(
          cachedEdges(s, dir, minShared = 5, maxDf = 100), "d1", "d2")
        .select(col("node").as("doc_id"), col("label"))
      val sizes = Tables.documents(s, dir).select($"doc_id")
        .join(labels, Seq("doc_id"), "left")
        .select(coalesce($"label", $"doc_id").as("cluster_id"))
        .groupBy($"cluster_id").agg(count(lit(1)).as("sz"))
      val tot = sizes.agg(sum($"sz").as("tot"))
      sizes
        .select(length(expr("conv(sz, 10, 2)")).cast("long").as("bucket"),
          $"sz")
        .groupBy($"bucket")
        .agg(count(lit(1)).as("n_clusters"), sum($"sz").as("n_docs"),
          min($"sz").as("min_size"), max($"sz").as("max_size"))
        .crossJoin(broadcast(tot))
        .select($"bucket", $"n_clusters", $"n_docs", $"min_size",
          $"max_size", expr("n_docs * 1000000 div tot").as("doc_share_ppm"))
        .orderBy($"bucket")
    }),

    // PAGERANK over the near-dup similarity graph (3 power iterations,
    // damping 0.85): the centrality pass a dedup pipeline runs to pick
    // CANONICAL representatives — the highest-rank member of a dup
    // cluster is the best-connected (most-duplicated) variant, a
    // smarter keeper policy than cc2's min-id. Iteration shape at
    // scale: ranks live node-keyed, each step is one edges⋈ranks join
    // (edge-keyed shuffle) + one dst-keyed map-side-combining sum —
    // never an adjacency matrix. The symmetric edge set means no
    // dangling-mass correction (every node has out-degree ≥ 1). Per-
    // iteration contributions sum on the dyadic fixed-point grid
    // (Num.fsum — rank/deg values are arbitrary doubles, the DECIMAL
    // cast class p4/e1 measured as engine-divergent), so each iteration
    // is bit-identical to the oracle's unrolled CTE and errors cannot
    // compound. N reaches the plan as a scalar subquery.
    "pr1_pagerank" -> ((s, dir) => {
      val pairs = cachedEdges(s, dir, minShared = 5, maxDf = 100)
      val sym = pairs.select(col("d1").as("a"), col("d2").as("b"))
        .union(pairs.select(col("d2").as("a"), col("d1").as("b")))
      pageRank(sym, iters = 3)
        .select(col("node").as("doc_id"), col("r").as("pagerank"))
        .orderBy(col("doc_id"))
    }),

    // LABEL-PROPAGATION COMMUNITY DETECTION (Raghavan et al.) over the
    // near-dup graph — the clustering that, unlike cc1's transitive
    // closure, does NOT merge everything reachable: a label needs
    // neighbor-MAJORITY support to spread, so chains of borderline
    // matches stop propagating where a connected component would
    // swallow them (gr2's gcc diagnoses exactly when that matters).
    // SYNCHRONOUS iterations with deterministic ties (count DESC,
    // label ASC) keep the run replayable. Scale shape per iteration:
    // one edge⋈labels equi-join (edge-keyed shuffle), one (node,
    // label) count whose partials combine map-side, and the map-side-
    // heap TopKPerKey argmax — never an adjacency matrix, and label
    // frames are node-sized.
    "gr3_label_propagation" -> ((s, dir) => {
      val pairs = cachedEdges(s, dir, minShared = 5, maxDf = 100)
      val sym = Materialize(pairs.select(col("d1").as("a"), col("d2").as("b"))
        .union(pairs.select(col("d2").as("a"), col("d1").as("b"))))
      lpaLabels(sym, rounds = 3)
        .select(col("node").as("doc_id"), col("lbl").as("community"))
        .orderBy(col("doc_id"))
    }),

    // K-CORE EXTRACTION (k=2, synchronous peeling): the densest-region
    // filter dup-cluster triage runs BEFORE trusting a near-dup
    // neighborhood — a node survives iff it keeps >= k neighbors after
    // every weaker node is discarded, so borderline chains and
    // pendant matches (which cc1's transitive closure happily absorbs
    // and gr2's gcc only diagnoses in aggregate) are peeled away and
    // what remains is the template-family hard core. SYNCHRONOUS
    // rounds: each round recomputes degrees over the surviving edge
    // set and drops every node below k at once — 4 rounds unrolled,
    // with KCoreSpec asserting the fixture reaches its FIXPOINT one
    // round early (round 4 == round 3), so the unrolled depth is
    // verified, not hoped (d7's unrolled-Lloyd posture; peeling depth
    // grows like the graph's degeneracy ordering, logarithmic in
    // practice on similarity graphs). Per-round scale shape: one
    // map-side-combining degree count over edges + two semi-joins of
    // the edge set against the k-qualified node set (node-keyed
    // shuffles only — the edge set never self-joins and no adjacency
    // structure is ever collected).
    "gr4_kcore" -> ((s, dir) => {
      val pairs = cachedEdges(s, dir, minShared = 5, maxDf = 100)
      val sym = pairs.select(col("d1").as("a"), col("d2").as("b"))
        .union(pairs.select(col("d2").as("a"), col("d1").as("b")))
      kcoreEdges(sym, k = 2, rounds = 4)
        .groupBy(col("a")).agg(count(lit(1)).as("deg_in_core"))
        .select(col("a").as("doc_id"), col("deg_in_core"))
        .orderBy(col("doc_id"))
    }),

    // TRIANGLE COUNT + global clustering coefficient over the near-dup
    // graph — the cohesion diagnostic that tells dup-cluster triage how
    // "clique-like" the duplicate neighborhoods are (high gcc: dense
    // template families; low gcc: chains of borderline matches that
    // cc1's transitive closure may be over-merging). Scale shape: each
    // undirected edge is ORIENTED from its (degree, id)-smaller
    // endpoint (the standard degree-ordered orientation), so every
    // triangle is generated exactly once at its lowest-degree vertex
    // and the wedge expansion per vertex is bounded by its ORIENTED
    // out-degree — O(m^1.5) total work regardless of hub skew, where
    // the naive id-orientation would expand every hub's full
    // neighborhood square. The wedge self-join shuffles on src only;
    // the closing-edge probe is an equi-join on (u, w). The oracle
    // counts the same triangles via its simpler id-orientation — the
    // count is orientation-invariant, so the engines can each use the
    // join shape natural to them.
    "gr2_triangle_stats" -> ((s, dir) => {
      val pairs = cachedEdges(s, dir, minShared = 5, maxDf = 100)
      val und = pairs.select(col("d1").as("a"), col("d2").as("b"))
        .union(pairs.select(col("d2").as("a"), col("d1").as("b")))
      val deg = und.groupBy(col("a")).agg(count(lit(1)).as("dg"))
      val lt = struct(col("g1"), col("d1")) < struct(col("g2"), col("d2"))
      val oriented = Materialize(
        pairs
          .join(deg.select(col("a").as("d1"), col("dg").as("g1")), "d1")
          .join(deg.select(col("a").as("d2"), col("dg").as("g2")), "d2")
          .select(
            when(lt, col("d1")).otherwise(col("d2")).as("src"),
            when(lt, col("d2")).otherwise(col("d1")).as("dst"),
            when(lt, col("g2")).otherwise(col("g1")).as("dg")))
      val triCnt = oriented.as("x")
        .join(oriented.as("y"),
          col("x.src") === col("y.src") &&
            struct(col("x.dg"), col("x.dst")) < struct(col("y.dg"), col("y.dst")))
        .select(col("x.dst").as("u"), col("y.dst").as("w"))
        .join(oriented.select(col("src").as("u"), col("dst").as("w")), Seq("u", "w"))
        .agg(count(lit(1)).as("n_triangles"))
      val degStats = deg.agg(count(lit(1)).as("n_nodes"),
        sum(expr("dg * (dg - 1) div 2")).as("n_wedges"))
      val edgeCnt = pairs.agg(count(lit(1)).as("n_edges"))
      degStats.crossJoin(edgeCnt).crossJoin(triCnt)
        .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
          when(col("n_wedges") > 0,
            lit(3.0) * col("n_triangles") / col("n_wedges"))
            .otherwise(lit(0.0)).as("gcc"))
    }),
    // BFS HOP DISTANCE from the duplication HUB (the highest-degree
    // node of the near-dup graph, ties to the lower doc_id): the
    // "blast-radius" pass dup-cluster triage runs to see how far a
    // template family's influence reaches — hop 1 is the hub's direct
    // near-dups, hop 2+ the borderline chains that transitive closure
    // (cc1) would merge silently. Frontier expansion, 4 synchronous
    // rounds: each round touches ONLY the newest frontier (a left-semi
    // of the edge set against the frontier, edge-keyed shuffle), drops
    // already-visited nodes with a node-keyed anti-join, and unions the
    // survivors in at hop i. First-reach IS min-distance by
    // construction, so no min-aggregation over paths is ever needed and
    // per-round work is proportional to the frontier's edge
    // neighborhood — never the whole graph re-expanded (the oracle's
    // recursive CTE re-derives every (node, d≤4) path pair and takes
    // min(d), which is fine at oracle scale and exactly equal whenever
    // the peel depth covers the radius). Unreached nodes are absent on
    // both sides rather than carrying a sentinel distance.
    "gr5_bfs_hops" -> ((s, dir) => {
      val pairs = cachedEdges(s, dir, minShared = 5, maxDf = 100)
      val sym = Materialize(pairs.select(col("d1").as("a"), col("d2").as("b"))
        .union(pairs.select(col("d2").as("a"), col("d1").as("b"))))
      val hub = sym.groupBy(col("a")).agg(count(lit(1)).as("dg"))
        .orderBy(col("dg").desc, col("a").asc).limit(1)
        .select(col("a").as("node"))
      bfsHops(sym, hub, rounds = 4)
        .select(col("node").as("doc_id"), col("hops"))
        .orderBy(col("doc_id"))
    }),

    // PERSONALIZED PAGERANK from the duplication hub (teleport mass
    // 0.15 returns to the SOURCE, not uniformly): where pr1 scores
    // global centrality, PPR scores proximity-weighted relevance TO a
    // chosen document — the similarity-graph analogue of "more like
    // this one", and the standard seed-expansion primitive for finding
    // a template family given one known member. Same iteration shape
    // and dyadic contribution grid as pr1 (one edges⋈ranks equi-join +
    // one dst-keyed map-side-combining fsum per step; the grid keeps
    // every iteration bit-identical to the oracle's unrolled CTE);
    // gr5's BFS gives hop distance from the hub, this gives the
    // random-walk-with-restart weighting of the same neighborhood.
    // The hub is a broadcast 1-row frame, NOT a driver collect: an
    // empty edge set then degrades to an empty result exactly like
    // gr5 and the oracle, instead of crashing on collect()(0).
    "gr6_personalized_pagerank" -> ((s, dir) => {
      val pairs = cachedEdges(s, dir, minShared = 5, maxDf = 100)
      val sym = Materialize(pairs.select(col("d1").as("a"), col("d2").as("b"))
        .union(pairs.select(col("d2").as("a"), col("d1").as("b"))))
      val deg = Materialize(sym.groupBy(col("a")).agg(count(lit(1)).as("deg")))
      val hub = deg.orderBy(col("deg").desc, col("a").asc).limit(1)
        .select(col("a").as("hub"))
      val withDeg = Materialize(sym.join(deg, "a"))
      var rank = sym.select(col("a").as("node")).distinct()
        .crossJoin(broadcast(hub))
        .select(col("node"),
          when(col("node") === col("hub"), lit(1.0)).otherwise(lit(0.0)).as("r"))
      for (_ <- 1 to 3)
        rank = withDeg.join(rank, col("a") === col("node"))
          .select(col("b"), (col("r") / col("deg")).as("contrib"))
          .groupBy(col("b"))
          .agg((lit(0.85) * graft.ops.Num.fsum(col("contrib"))).as("rc"))
          .crossJoin(broadcast(hub))
          .select(col("b").as("node"),
            (when(col("b") === col("hub"), lit(0.15)).otherwise(lit(0.0))
              + col("rc")).as("r"))
      rank.select(col("node").as("doc_id"), col("r").as("ppr"))
        .orderBy(col("doc_id"))
    }),

    // MODULARITY SCORING of gr3's communities: Newman's Q per
    // community as an EXACT RATIONAL — q_num = 4·m·L_c − D_c², over
    // the shared denominator q_den = 4·m² (Q = Σ q_num / q_den) —
    // because the float form subtracts two tiny quantities and no
    // grid makes that portable, while the integer numerators are
    // exact in both engines. The score that tells you whether gr3's
    // partition actually beats random (Q > 0) before a keeper policy
    // trusts it. Envelope: D_c ≤ 2m, so q_num needs m < ~1.5·10⁹
    // undirected edges in int64 — beyond that, lift the squares to
    // DECIMAL(38,0) (Num's capacity-note posture). Scale shape: LPA's
    // per-round joins (shared lpaLabels core), then two label-keyed
    // map-side-combining aggregations; the 1-row edge count
    // broadcasts.
    "gr9_modularity" -> ((s, dir) => {
      val pairs = cachedEdges(s, dir, minShared = 5, maxDf = 100)
      val sym = Materialize(pairs.select(col("d1").as("a"), col("d2").as("b"))
        .union(pairs.select(col("d2").as("a"), col("d1").as("b"))))
      val labels = lpaLabels(sym, rounds = 3)
      val mDf = pairs.agg(count(lit(1)).as("m"))
      val intra = pairs
        .join(labels.select(col("node").as("d1"), col("lbl").as("l1")), "d1")
        .join(labels.select(col("node").as("d2"), col("lbl").as("l2")), "d2")
        .filter(col("l1") === col("l2"))
        .groupBy(col("l1").as("community")).agg(count(lit(1)).as("intra_edges"))
      val deg = sym.groupBy(col("a")).agg(count(lit(1)).as("dg"))
      labels.join(deg, col("node") === col("a"))
        .groupBy(col("lbl").as("community"))
        .agg(count(lit(1)).as("n_nodes"), sum(col("dg")).as("degree_sum"))
        .join(intra, Seq("community"), "left")
        .crossJoin(broadcast(mDf))
        .select(col("community"), col("n_nodes"),
          coalesce(col("intra_edges"), lit(0L)).as("intra_edges"),
          col("degree_sum"),
          (lit(4L) * col("m") * coalesce(col("intra_edges"), lit(0L))
            - col("degree_sum") * col("degree_sum")).as("q_num"),
          (lit(4L) * col("m") * col("m")).as("q_den"))
        .orderBy(col("community"))
    }),

    // COMPONENT-SIZE HISTOGRAM: the dedup-impact summary — how many
    // 2-doc pairs vs 50-doc template families cc2's resolution will
    // collapse (gr7 profiles node degrees; this profiles whole
    // clusters, which is what the keeper policy actually acts on).
    // Singleton docs (no edge) are not components and are excluded —
    // d34 accounts for them. Two integer aggregations over the label
    // frame; the histogram key space is the distinct size set.
    "gr8_component_size_histogram" -> ((s, dir) => {
      val edges = cachedEdges(s, dir, minShared = 5, maxDf = 100)
      ConnectedComponents.run(edges, "d1", "d2")
        .groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
        .orderBy(col("cluster_size"))
    }),

    // SOFT DEDUP: instead of cc2's drop-the-losers, every document is
    // kept and DOWNWEIGHTED by its duplicate-cluster size (weight =
    // 10⁶ div |cluster| ppm — the SoftDeDup posture: duplicated mass
    // contributes once in expectation, but no individual variant is
    // lost, which matters when near-dups carry real variation the
    // keeper policy would discard). Integer weights, so the gate is
    // exact. Scale: the corpus-sized left join against the edge-cover-
    // sized label frame broadcasts (d31's posture); cluster sizes are
    // one map-side-combining count over the label frame.
    "d34_soft_dedup_weights" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"))
      val edges = cachedEdges(s, dir, minShared = 5, maxDf = 100)
      val labels = ConnectedComponents.run(edges, "d1", "d2")
        .select(col("node").as("doc_id"), col("label"))
      val withLbl = docs.join(labels, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("label"), col("doc_id")).as("cluster_id"))
      val sizes = withLbl.groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("cluster_size"))
      withLbl.join(sizes, "cluster_id")
        .filter(col("doc_id") % 20 === 0)
        .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
          expr("1000000 div cluster_size").as("weight_ppm"))
        .orderBy(col("doc_id"))
    }),

    // DEGREE DISTRIBUTION of the near-dup graph: the one-glance
    // diagnostic that separates a power-law template disaster (a few
    // mega-hubs — exactly what the hot-cap and k-core exist to handle)
    // from benign sparse duplication. Pure integer counts; at scale
    // it's two map-side-combining aggregations (node degree, then
    // degree histogram) — the second one's key space is the distinct
    // degree set, tiny by definition.
    "gr7_degree_histogram" -> ((s, dir) => {
      val pairs = cachedEdges(s, dir, minShared = 5, maxDf = 100)
      val sym = pairs.select(col("d1").as("a"), col("d2").as("b"))
        .union(pairs.select(col("d2").as("a"), col("d1").as("b")))
      sym.groupBy(col("a")).agg(count(lit(1)).as("deg"))
        .groupBy(col("deg")).agg(count(lit(1)).as("n_nodes"))
        .orderBy(col("deg"))
    }),

    // LEAKAGE-FREE SPLIT: d11 buckets per-DOC, which lets two near-
    // duplicates straddle train/test — the eval-contamination leak
    // decontamination (d10/d12) exists to prevent, reintroduced by the
    // splitter itself. The fix every serious pipeline ships: hash the
    // CLUSTER representative, so an entire near-dup component rides one
    // md5 bucket and membership of any document pins its whole family.
    // Singletons (no near-dup edge) are their own cluster via
    // COALESCE(label, doc_id) — the corpus-sized left join against the
    // edge-cover-sized label frame broadcasts under AQE; the corpus is
    // never reshuffled (same posture as cc2's anti-join). GraphSpec
    // asserts the invariant d11 cannot offer: no cluster spans splits.
    "d31_leakfree_split" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val edges = cachedEdges(s, dir, minShared = 5, maxDf = 100)
      val labels = ConnectedComponents.run(edges, "d1", "d2")
        .select(col("node").as("doc_id"), col("label"))
      val withLbl = docs.join(labels, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_chars"),
          coalesce(col("label"), col("doc_id")).as("cluster_id"))
      val h = substring(md5(col("cluster_id").cast("string")), 1, 1)
      withLbl
        .select(
          when(h < "c", "train").when(h < "e", "val").otherwise("test")
            .as("split"),
          col("cluster_id"), col("n_chars"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("cluster_id")).as("n_clusters"),
          sum(col("n_chars")).as("total_chars"))
        .orderBy(col("split"))
    }),

    // SAMPLED HARMONIC CENTRALITY (Boldi–Vigna's harmonic variant of
    // closeness, estimated from pivots à la Eppstein–Wang): exact
    // closeness needs all-pairs distances — O(n·m) is off the table at
    // corpus scale — so the standard estimator runs BFS from a small
    // fixed pivot set and scores every node by its harmonic proximity
    // to the pivots it can reach. Pivots here are the 8 smallest node
    // ids in the edge set (deterministic, no RNG); one multi-source
    // frontier expansion carries all 8 BFS trees at once — per-round
    // work is the (src, frontier-node) pair set's edge neighborhood,
    // never 8 separate graph passes. The score is kept EXACT: hop
    // distances are 1..4, lcm(1..4)=12, so Σ 12/d is an integer
    // (h12 = 12·harmonic mass) — no float sum to make portable, the
    // same exact-rational posture as gr9's modularity. Nodes no pivot
    // reaches are absent on both sides (gr5's posture); d=0 self-rows
    // are excluded so a pivot is scored only by the OTHER pivots.
    "gr10_harmonic_centrality" -> ((s, dir) => {
      val pairs = cachedEdges(s, dir, minShared = 5, maxDf = 100)
      val sym = Materialize(pairs.select(col("d1").as("a"), col("d2").as("b"))
        .union(pairs.select(col("d2").as("a"), col("d1").as("b"))))
      val pivots = sym.select(col("a")).distinct()
        .orderBy(col("a").asc).limit(8).select(col("a").as("src"))
      bfsHopsPerSource(sym, pivots, rounds = 4)
        .filter(col("hops") > 0)
        .groupBy(col("node"))
        .agg(count(lit(1)).as("n_pivots_reached"),
          sum(expr("12 div hops")).as("h12"))
        .select(col("node").as("doc_id"), col("n_pivots_reached"), col("h12"))
        .orderBy(col("doc_id"))
    }),

    // DEGREE ASSORTATIVITY (Newman's r: do hubs attach to hubs?): on a
    // near-dup graph, r > 0 means template families chain into bigger
    // families (transitive closure will snowball), r < 0 means hubs
    // absorb leaves (clusters stay star-shaped) — the number that
    // predicts how cc1's components grow with corpus size. Over the
    // SYMMETRIC edge list Sx=Sy and Sxx=Syy, so Pearson's r collapses
    // to a ratio of two integers — (M·Σdadb − (Σda)²) / (M·Σda² −
    // (Σda)²) — computed EXACTLY in int64 and divided once as doubles
    // (gr9's exact-rational posture; envelope M·Σd² < 2^63 ≈ fine to
    // ~10⁸ directed edges at these degree scales, loud overflow past
    // it). Shape: one degree aggregation, two broadcast-able joins to
    // decorate edge endpoints, one global agg — no window, no n².
    "gr11_degree_assortativity" -> ((s, dir) => {
      val pairs = cachedEdges(s, dir, minShared = 5, maxDf = 100)
      val sym = Materialize(pairs.select(col("d1").as("a"), col("d2").as("b"))
        .union(pairs.select(col("d2").as("a"), col("d1").as("b"))))
      val deg = sym.groupBy(col("a")).agg(count(lit(1)).as("dg"))
      sym
        .join(deg.select(col("a"), col("dg").as("da")), Seq("a"))
        .join(deg.select(col("a").as("b"), col("dg").as("db")), Seq("b"))
        .agg(count(lit(1)).as("m_directed"),
          sum(col("da") * col("db")).as("sxy"),
          sum(col("da")).as("sx"),
          sum(col("da") * col("da")).as("sxx"))
        .select(col("m_directed"), col("sxy"), col("sx"), col("sxx"),
          (col("m_directed") * col("sxy") - col("sx") * col("sx")).as("r_num"),
          (col("m_directed") * col("sxx") - col("sx") * col("sx")).as("r_den"))
        .withColumn("assortativity",
          col("r_num").cast("double") / col("r_den").cast("double"))
    }),

    // TWO-HOP REACH (triadic closure / "related documents"): for each
    // node, how many documents sit exactly at distance 2 — reachable
    // through a shared neighbor but never directly compared. This is
    // the candidate-expansion count a "more like this" recommender or
    // an agglomerative dedup round would generate next, and the
    // per-node number that predicts transitive-closure blowup BEFORE
    // cc1 runs (Σ n_fof bounds the next round's new-pair volume).
    // Shape: one self-join on the shared endpoint — work Σ deg², the
    // standard friend-of-friend pass, kept sane by cachedEdges' hot-key
    // df cap — then a distinct and an anti-join against the direct
    // neighborhood; everything is (node, node) pairs on equi-keys,
    // never a cartesian.
    "gr12_two_hop_reach" -> ((s, dir) => {
      val pairs = cachedEdges(s, dir, minShared = 5, maxDf = 100)
      val sym = Materialize(pairs.select(col("d1").as("a"), col("d2").as("b"))
        .union(pairs.select(col("d2").as("a"), col("d1").as("b"))))
      val deg = sym.groupBy(col("a")).agg(count(lit(1)).as("n_direct"))
      val twoHop = sym.as("x")
        .join(sym.as("y"), col("x.b") === col("y.a"))
        .filter(col("x.a") =!= col("y.b"))
        .select(col("x.a").as("a"), col("y.b").as("c")).distinct()
      val fof = twoHop
        .join(sym.select(col("a"), col("b").as("c")), Seq("a", "c"), "left_anti")
        .groupBy(col("a")).agg(count(lit(1)).as("n_fof"))
      deg.join(fof, Seq("a"), "left")
        .select(col("a").as("doc_id"), col("n_direct"),
          coalesce(col("n_fof"), lit(0L)).as("n_fof"))
        .orderBy(col("doc_id"))
    }),

    // PER-NODE (local) CLUSTERING COEFFICIENT — gr2 reports the global
    // transitivity; curation wants the per-document number: a node
    // whose neighbors all know each other (lcc → 1) sits inside a
    // dense template family that transitive closure will collapse
    // whole, while a high-degree, low-lcc node is a HUB STITCHING
    // UNRELATED families — exactly the document to inspect before cc2
    // merges its neighbors. Exact rationals (gr9's posture): lcc_num =
    // 2·triangles, lcc_den = deg·(deg−1), one double division last.
    // Shape: wedges from one self-join on the center node (Σ deg²,
    // df-capped), closed by a left-semi against the u<w edge list —
    // the same candidate-bounded pattern as gr2, keyed per node.
    "gr13_local_clustering" -> ((s, dir) => {
      val pairs = cachedEdges(s, dir, minShared = 5, maxDf = 100)
      val sym = Materialize(pairs.select(col("d1").as("a"), col("d2").as("b"))
        .union(pairs.select(col("d2").as("a"), col("d1").as("b"))))
      val deg = sym.groupBy(col("a")).agg(count(lit(1)).as("degree"))
      val tri = sym.as("x").join(sym.as("y"),
          col("x.a") === col("y.a") && col("x.b") < col("y.b"))
        .select(col("x.a").as("v"), col("x.b").as("u"), col("y.b").as("w"))
        .join(pairs.select(col("d1").as("u"), col("d2").as("w")),
          Seq("u", "w"), "left_semi")
        .groupBy(col("v")).agg(count(lit(1)).as("n_triangles"))
      deg.join(tri, col("a") === col("v"), "left")
        .select(col("a").as("doc_id"), col("degree"),
          coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
        .withColumn("lcc_num", lit(2L) * col("n_triangles"))
        .withColumn("lcc_den", col("degree") * (col("degree") - 1))
        .withColumn("lcc", when(col("lcc_den") > 0,
          col("lcc_num").cast("double") / col("lcc_den").cast("double"))
          .otherwise(lit(0.0)))
        .orderBy(col("doc_id"))
    }),

    // KEEPER-POLICY COMPARISON: cc2 keeps each cluster's MIN doc_id —
    // cheap and deterministic, but curation pipelines routinely keep
    // the LONGEST member instead (most content retained per cluster).
    // This runs both policies over cc1's clusters and reports where
    // they disagree, per cluster: size, both keepers, both kept
    // lengths, and the agreement flag — the audit a pipeline owner
    // reads before switching policy. Ties on length break to the lower
    // doc_id, so the longest-policy is a total order too. Shape: the
    // corpus joins the edge-cover-sized label frame (broadcasts under
    // AQE), the policy window sorts only CLUSTER MEMBERS (edge-cover-
    // sized), never the corpus.
    "d36_keep_longest_policy" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("n_chars"))
      val edges = cachedEdges(s, dir, minShared = 5, maxDf = 100)
      val members = docs.join(
        ConnectedComponents.run(edges, "d1", "d2")
          .select(col("node").as("doc_id"), col("label").as("cluster_id")),
        Seq("doc_id"))
      val w = Window.partitionBy(col("cluster_id"))
        .orderBy(col("n_chars").desc, col("doc_id").asc)
      val longest = members.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("cluster_id"), col("doc_id").as("keeper_longest"),
          col("n_chars").as("kept_chars_longest"))
      val minid = members.groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("cluster_size"),
          min(col("doc_id")).as("keeper_minid"))
      val minChars = members.select(col("doc_id").as("keeper_minid"),
        col("n_chars").as("kept_chars_minid"))
      longest.join(minid, Seq("cluster_id"))
        .join(minChars, Seq("keeper_minid"))
        .select(col("cluster_id"), col("cluster_size"),
          col("keeper_longest"), col("kept_chars_longest"),
          col("keeper_minid"), col("kept_chars_minid"),
          (col("keeper_longest") === col("keeper_minid")).as("policy_agrees"))
        .orderBy(col("cluster_id"))
    }),

    // FREQUENCY CAPPING — the middle dedup policy between cc2's
    // keep-one and d34's soft weights (the FineWeb/RefinedWeb stance:
    // some duplication is signal, unbounded duplication is boilerplate
    // — keep at most N=2 copies per near-dup family). Which two is
    // decided by md5(doc_id) order — deterministic, reproducible,
    // position/source-unbiased, unlike "first two seen". Output is the
    // retention ledger per cluster-size log2 bucket: clusters, docs,
    // kept, dropped, drop ppm — the table that says what the cap costs
    // at each family size before a 100 TB run commits to it.
    // Shape: the rank window sorts only CLUSTER MEMBERS (edge-cover-
    // sized — d36's posture); singletons never enter a shuffle, they
    // are accounted arithmetically from two scalar counts.
    "d41_frequency_cap" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"))
      val labels = ConnectedComponents
        .run(cachedEdges(s, dir, minShared = 5, maxDf = 100), "d1", "d2")
        .select(col("node").as("doc_id"), col("label").as("cluster_id"))
      val mem = docs.join(labels, Seq("doc_id"))
        .withColumn("okey", expr(
          "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 13), 16, 10) AS BIGINT)"))
      val w = Window.partitionBy(col("cluster_id"))
        .orderBy(col("okey"), col("doc_id"))
      val per = mem.withColumn("rn", row_number().over(w))
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("sz"),
          sum(when(col("rn") <= 2, 1L).otherwise(0L)).as("kept"),
          // WHICH members survive is part of the contract: an order-
          // insensitive keeper-id checksum (p8's Mersenne residue)
          // pins the md5 selection itself in the hash gate
          sum(when(col("rn") <= 2, col("doc_id")).otherwise(lit(0L)))
            .as("kfp"),
          sum(col("doc_id").cast(org.apache.spark.sql.types.DecimalType(38, 0)))
            .as("idsum"))
      val bucketed = per
        .select(length(expr("conv(sz, 10, 2)")).cast("long").as("bucket"),
          col("sz"), col("kept"), col("kfp"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_clusters"), sum(col("sz")).as("n_docs"),
          sum(col("kept")).as("n_kept"),
          sum(col("sz") - col("kept")).as("n_dropped"),
          pmod(sum(col("kfp").cast(org.apache.spark.sql.types.DecimalType(38, 0))),
            lit(2305843009213693951L)).cast("long").as("kept_id_fp"))
      // singletons: every unclustered doc is its own size-1 family,
      // kept by definition — two scalar rows, no shuffle; their keeper
      // fingerprint is the id-mass difference of the same residue
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val singles = docs
        .agg(count(lit(1)).as("n_total"),
          sum(col("doc_id").cast(dec)).as("id_total"))
        .crossJoin(broadcast(per.agg(
          coalesce(sum(col("sz")), lit(0L)).as("n_clustered"),
          coalesce(sum(col("idsum")), lit(0).cast(dec)).as("id_clustered"))))
        .withColumn("single_fp",
          pmod(col("id_total") - col("id_clustered"),
            lit(2305843009213693951L)).cast("long"))
        .select(lit(1L).as("bucket"),
          (col("n_total") - col("n_clustered")).as("n_clusters"),
          (col("n_total") - col("n_clustered")).as("n_docs"),
          (col("n_total") - col("n_clustered")).as("n_kept"),
          lit(0L).as("n_dropped"), col("single_fp").as("kept_id_fp"))
      bucketed.unionByName(singles)
        .withColumn("drop_ppm", expr("n_dropped * 1000000 div n_docs"))
        .orderBy(col("bucket"))
    }),

    // LINK PREDICTION (common-neighbors + neighborhood Jaccard) over
    // the MUTUAL-kNN embedding graph: two vectors that are NOT each
    // other's top-5 neighbors but share ≥2 mutual-kNN neighbors are
    // the classic "missed edge" an ANN index review surfaces — the
    // shingle near-dup graph is transitively closed in this corpus
    // (template families share everything), so the informative graph
    // is the kNN one, which is non-transitive by construction (top-5
    // lists truncate). Edges reuse d5's brute-force top-5 VERBATIM
    // (one definition of "neighbor" across the similarity family);
    // mutuality is a self-join on the 5n-row list frame, never the n²
    // pair stream. Scores are exact rationals on the fixed edge set:
    // cn counts wedges from ONE self-join (Σ deg², deg ≤ 5 here),
    // |Γ∪Γ| = deg+deg−cn by inclusion-exclusion, one double division
    // last (gr13's posture); existing edges leave by anti-join. The
    // cn ≥ 2 floor is the pigeonhole: one shared neighbor is noise at
    // list-truncation boundaries, two is structure.
    "gr14_link_prediction" -> ((s, dir) => {
      val knn = Materialize(LlmPipeline.cachedKnn(s, dir)
        .select(col("vec_id"), col("nbr")))
      val mut = Materialize(knn.as("a").join(knn.as("b"),
          col("a.vec_id") === col("b.nbr") && col("a.nbr") === col("b.vec_id"))
        .filter(col("a.vec_id") < col("a.nbr"))
        .select(col("a.vec_id").as("d1"), col("a.nbr").as("d2")))
      val sym = mut.select(col("d1").as("a"), col("d2").as("b"))
        .union(mut.select(col("d2").as("a"), col("d1").as("b")))
      val deg = sym.groupBy(col("a")).agg(count(lit(1)).as("degree"))
      val cand = sym.as("x").join(sym.as("y"),
          col("x.a") === col("y.a") && col("x.b") < col("y.b"))
        .groupBy(col("x.b").as("u"), col("y.b").as("w"))
        .agg(count(lit(1)).as("cn"))
        .join(mut.select(col("d1").as("u"), col("d2").as("w")),
          Seq("u", "w"), "left_anti")
        .filter(col("cn") >= 2)
      cand
        .join(deg.select(col("a").as("u"), col("degree").as("deg_u")), Seq("u"))
        .join(deg.select(col("a").as("w"), col("degree").as("deg_w")), Seq("w"))
        .withColumn("union_deg", col("deg_u") + col("deg_w") - col("cn"))
        .select(col("u"), col("w"), col("cn"), col("deg_u"), col("deg_w"),
          col("union_deg"),
          (col("cn").cast("double") / col("union_deg").cast("double"))
            .as("jaccard"))
        .orderBy(col("u"), col("w"))
    }),

    // kNN-GRAPH RECIPROCITY BY RANK — the HUBNESS diagnostic for an
    // embedding space (Radovanović et al., JMLR'10): in a healthy
    // space most nearest-neighbor edges are mutual; a hubby space has
    // a few vectors that appear in everyone's top-k without
    // reciprocating, which silently poisons kNN labels (ml2/ml3) and
    // margin mining (e10). Per rank position 1..5: how many of the
    // corpus's rank-r edges are reciprocated at ANY rank ≤ 5. Reading
    // the curve: reciprocity decaying steeply with rank = normal;
    // uniformly low = hubs. Scale shape: the edge list is the
    // persisted kNN artifact (5n rows); reciprocity is ONE self-join
    // on the (nbr, vec_id) key pair — never the vector table — and
    // the output is a 5-row rollup. All-BIGINT.
    "gr17_knn_reciprocity" -> ((s, dir) => {
      val knn = Materialize(LlmPipeline.cachedKnn(s, dir)
        .select(col("vec_id"), col("nbr"), col("rn")))
      val rev = knn.select(col("nbr").as("vec_id"), col("vec_id").as("nbr"),
        lit(1L).as("mutual")).distinct()
      knn.join(rev, Seq("vec_id", "nbr"), "left")
        .groupBy(col("rn").cast("long").as("rn"))
        .agg(count(lit(1)).as("n_edges"),
          sum(coalesce(col("mutual"), lit(0L))).as("n_mutual"))
        .select(col("rn"), col("n_edges"), col("n_mutual"),
          expr("n_mutual * 1000000 div n_edges").as("mutual_ppm"))
        .orderBy(col("rn"))
    }),

    // ROBUST-PRUNE (RNG) DIVERSIFICATION AUDIT — the neighbor-selection
    // heuristic every graph-ANN index applies on top of a raw top-k
    // list (HNSW's SELECT-NEIGHBORS-HEURISTIC, DiskANN's RobustPrune at
    // α=1, both restating the relative-neighborhood-graph rule):
    // candidate c at rank r is OCCLUDED when some higher-ranked
    // neighbor s sits closer to c than the query does (cos(s,c) >
    // cos(q,c)) — an edge to c would be redundant with the s→c hop.
    // Per rank 1..5: how many rank-r edges survive the prune. Reading
    // the curve: steep decay = clustered neighborhoods where
    // diversification buys reach; flat = already-spread lists. Scale
    // shape: the persisted kNN artifact's 5n edges self-join into at
    // most C(5,2)=10 occlusion pairs per query; the two embedding
    // lookups are id-keyed joins (never a pair scan of the vector
    // table); the output is a 5-row rollup. Both engines compute both
    // cosines of every comparison with the same fold, so the float
    // comparison is engine-invariant; the output is all-BIGINT.
    "gr18_rng_prune" -> ((s, dir) => {
      import graft.functions.VecDot
      val knn = Materialize(LlmPipeline.cachedKnn(s, dir))
      val n = Tables.embeddings(s, dir)
        .select(col("vec_id"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
        .withColumn("nf", sqrt(VecDot(col("v"), col("v"))))
      val cand = knn.as("c").join(knn.as("p"),
          col("c.vec_id") === col("p.vec_id") && col("p.rn") < col("c.rn"))
        .select(col("c.vec_id").as("qid"), col("c.rn").as("rn"),
          col("c.nbr").as("cid"), col("c.cos").as("cos_qc"),
          col("p.nbr").as("sid"))
      val occ = cand
        .join(n.select(col("vec_id").as("sid"), col("v").as("vs"),
          col("nf").as("ns")), "sid")
        .join(n.select(col("vec_id").as("cid"), col("v").as("vc"),
          col("nf").as("nc")), "cid")
        .withColumn("cos_sc",
          VecDot(col("vs"), col("vc")) / (col("ns") * col("nc")))
        .groupBy(col("qid"), col("rn"))
        .agg(max(when(col("cos_sc") > col("cos_qc"), 1L).otherwise(0L))
          .as("occ"))
      knn.select(col("vec_id").as("qid"), col("rn"))
        .join(occ, Seq("qid", "rn"), "left")
        .groupBy(col("rn").cast("long").as("rn"))
        .agg(count(lit(1)).as("n_edges"),
          sum(when(coalesce(col("occ"), lit(0L)) === 0L, 1L).otherwise(0L))
            .as("n_kept"))
        .select(col("rn"), col("n_edges"), col("n_kept"),
          expr("n_kept * 1000000 div n_edges").as("kept_ppm"))
        .orderBy(col("rn"))
    }),

    // PER-COMPONENT ECCENTRICITY — the shape diagnostic for cc1's
    // clusters: a component with ecc 1 from its representative is a
    // star/clique (one template family — safe to collapse); ecc ≥ 3
    // means a CHAIN of pairwise-similar docs whose ends may share
    // nothing (the transitive-closure false-merge cc2's policy should
    // be audited on). One multi-source BFS carries ALL representatives
    // at once (gr10's frontier machinery — per-round work is the
    // frontier's edge neighborhood, never per-cluster passes); a rep
    // only reaches its own component, so the label join is a
    // consistency constraint, not a filter. n_reached vs cc1's member
    // count rides along — equality is the connectivity proof.
    "gr15_component_eccentricity" -> ((s, dir) => {
      val pairs = cachedEdges(s, dir, minShared = 5, maxDf = 100)
      val sym = Materialize(pairs.select(col("d1").as("a"), col("d2").as("b"))
        .union(pairs.select(col("d2").as("a"), col("d1").as("b"))))
      val labels = ConnectedComponents.run(pairs, "d1", "d2")
      val reps = labels.filter(col("node") === col("label"))
        .select(col("label").as("src"))
      // rounds = 4 (gr5/gr10's radius): measured max ecc at sf0.1 is 2;
      // the fully_connected column + n_reached == n_members goes loudly
      // false if a deeper component ever outgrows the cap
      val hops = bfsHopsPerSource(sym, reps, rounds = 4)
      val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("n_members"))
      hops
        .join(labels.select(col("node"), col("label").as("src")),
          Seq("src", "node"))
        .groupBy(col("src"))
        .agg(count(lit(1)).as("n_reached"), max(col("hops")).as("ecc"))
        .join(sizes, col("src") === col("label"))
        .select(col("src").as("cluster_id"), col("n_members"),
          col("n_reached"), col("ecc"),
          (col("n_reached") === col("n_members")).as("fully_connected"))
        .orderBy(col("cluster_id"))
    }),
  )

  /** `rounds` synchronous label-propagation steps over a SYMMETRIC
    * (a, b) edge frame (Raghavan et al.; deterministic count DESC,
    * label ASC ties) — gr3's core, shared with gr9's modularity
    * scoring so the community definition cannot drift between the
    * partition and its quality metric. Returns (node, lbl). */
  private[graft] def lpaLabels(sym: DataFrame, rounds: Int): DataFrame = {
    var labels = sym.select(col("a").as("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
    for (_ <- 1 to rounds) {
      val counted = sym.join(labels, col("b") === col("node"))
        .groupBy(col("a"), col("lbl")).agg(count(lit(1)).as("cnt"))
      val best = graft.plans.TopK.perKey(counted, keys = Seq(col("a")),
        order = Seq(col("cnt").desc, col("lbl").asc), k = 1)
      labels = Materialize(best.select(col("a").as("node"), col("lbl")))
    }
    labels
  }

  /** Multi-source BFS over a SYMMETRIC (a, b) edge frame: `sources`
    * (single column `node`) start at hop 0; returns (node, hops) for
    * every node reached within `rounds` hops. Each round expands ONLY
    * the previous round's frontier (left-semi edges⋈frontier), so a
    * node is inserted exactly once — at its true BFS distance — and
    * the anti-join against the visited set keeps re-expansion of
    * already-settled nodes out of the plan entirely. GraphSpec asserts
    * min-distance semantics on a diamond graph (two paths, different
    * lengths) and that the unvisited tail of a path graph stays
    * absent. */
  private[graft] def bfsHops(sym: DataFrame, sources: DataFrame, rounds: Int): DataFrame = {
    var visited = Materialize(sources.select(col("node"), lit(0L).as("hops")))
    var frontier = visited.select(col("node"))
    for (i <- 1 to rounds) {
      val next = Materialize(
        sym.join(frontier.select(col("node").as("a")), Seq("a"), "left_semi")
          .select(col("b").as("node")).distinct()
          .join(visited.select(col("node")), Seq("node"), "left_anti"))
      visited = Materialize(
        visited.union(next.select(col("node"), lit(i.toLong).as("hops"))))
      frontier = next
    }
    visited
  }

  /** Multi-source BFS that keeps the trees SEPARATE: `sources` (single
    * column `src`) each start their own BFS at hop 0, and the frontier
    * rows are (src, node) pairs — one synchronized expansion advances
    * all trees per round instead of looping bfsHops once per source
    * (k passes over the edge set → 1). Same first-reach-is-min-distance
    * and no-re-expansion guarantees as [[bfsHops]], just keyed by
    * (src, node); per-round cost is the frontier pair set's edge
    * neighborhood, bounded by k·(bfsHops cost) but typically far less
    * because trees saturate. Returns (src, node, hops), hops <= rounds.
    * GraphSpec asserts per-source independence against k single-source
    * runs. */
  private[graft] def bfsHopsPerSource(sym: DataFrame, sources: DataFrame,
                                      rounds: Int): DataFrame = {
    var visited = Materialize(
      sources.select(col("src"), col("src").as("node"), lit(0L).as("hops")))
    var frontier = visited.select(col("src"), col("node"))
    for (i <- 1 to rounds) {
      val next = Materialize(
        sym.join(frontier.select(col("src"), col("node").as("a")), Seq("a"))
          .select(col("src"), col("b").as("node")).distinct()
          .join(visited.select(col("src"), col("node")),
            Seq("src", "node"), "left_anti"))
      visited = Materialize(
        visited.union(next.select(col("src"), col("node"),
          lit(i.toLong).as("hops"))))
      frontier = next
    }
    visited
  }

  /** `rounds` synchronous k-core peel steps over a SYMMETRIC (a, b)
    * edge frame; returns the surviving symmetric edge set. Equals the
    * true k-core whenever the peel fixpoints within `rounds` —
    * KCoreSpec asserts that for gr4's fixture (and that a too-shallow
    * unroll on an adversarial path graph does NOT fixpoint, so the
    * depth check is load-bearing). See `gr4_kcore` for the per-round
    * scale shape. */
  private[graft] def kcoreEdges(sym: DataFrame, k: Int, rounds: Int): DataFrame = {
    var e = Materialize(sym.select(col("a"), col("b")))
    for (_ <- 1 to rounds) {
      val keep = e.groupBy(col("a")).agg(count(lit(1)).as("dg"))
        .filter(col("dg") >= k).select(col("a"))
      e = Materialize(
        e.join(keep, Seq("a"), "left_semi")
          .join(keep.select(col("a").as("b")), Seq("b"), "left_semi")
          .select(col("a"), col("b")))
    }
    e
  }

  /** Power-iteration PageRank core (damping 0.85) over a SYMMETRIC
    * (a, b) edge frame — every node must have out-degree ≥ 1 (no
    * dangling-mass term; a symmetric edge set guarantees it). Returns
    * (node, r). See `pr1_pagerank` for the per-iteration scale shape;
    * GraphSpec asserts rank-mass conservation and hub dominance. */
  def pageRank(edges0: DataFrame, iters: Int): DataFrame = {
    val edges = Materialize(edges0)
    val n = edges.select(col("a")).distinct()
      .agg(count(lit(1)).cast("double").as("n")).scalar()
    val deg = edges.groupBy(col("a")).agg(count(lit(1)).as("deg"))
    val withDeg = Materialize(edges.join(deg, "a"))
    // contribution sums on the dyadic fixed-point grid (Num.fsum): the
    // r9 DECIMAL(38,18) cast put rank/deg values (~1e-2 here) into the
    // |v|·10^18 ≳ 2^53 regime where the e1 covariance measured ~50%
    // last-ulp cast divergence between engines — the p4 failure class,
    // green at sf0.01 only by node-count luck
    // ACCURACY-vs-n BOUND (mirrors Num's capacity note): the 2^-30 grid
    // is ABSOLUTE, while per-edge contributions shrink like ~1/n — at
    // n nodes each contribution carries up to 2^-31 quantization error,
    // i.e. relative error ~ n·2^-31 per term. Fine to n ≈ 10^6
    // (rel err ≲ 5e-4); at n ≳ 2^31 contributions round to exactly 0
    // and ranks collapse toward the uniform 0.15/n floor. For a
    // billion-node corpus, switch the grid to track rank magnitude
    // (quantize n·contrib, divide the recomposed sum by n) — same
    // bit-exactness argument, relative error back to ~2^-31.
    var rank = edges.select(col("a").as("node")).distinct()
      .select(col("node"), (lit(1.0) / n).as("r"))
    for (_ <- 1 to iters)
      rank = withDeg.join(rank, col("a") === col("node"))
        .select(col("b"), (col("r") / col("deg")).as("contrib"))
        .groupBy(col("b"))
        .agg((lit(0.15) / n + lit(0.85) * graft.ops.Num.fsum(col("contrib"))).as("r"))
        .select(col("b").as("node"), col("r"))
    rank
  }

  val oracleSql: Map[String, String] = Map(
    "cc1_dup_clusters" ->
      """WITH RECURSIVE docs AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks FROM documents
        |),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(len(toks)-2), i -> array_to_string(toks[i+1:i+3], ' '))) AS shingle
        |  FROM docs WHERE len(toks) >= 3
        |),
        |ok AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 100),
        |pairs AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2
        |  FROM sh a JOIN ok o ON a.shingle = o.shingle
        |  JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 5
        |),
        |edges AS (SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs),
        |reach(node, lbl) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.a, r.lbl FROM edges e JOIN reach r ON e.b = r.node
        |)
        |SELECT node AS doc_id, min(lbl) AS cluster_id
        |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin,

    // cc1's recursive closure + singleton fill; length(bin(sz)) is the
    // same floor(log2)+1 identity dq11 uses; every output cell BIGINT
    "gr16_cluster_size_spectrum" ->
      """WITH RECURSIVE docs AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks FROM documents
        |),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(len(toks)-2), i -> array_to_string(toks[i+1:i+3], ' '))) AS shingle
        |  FROM docs WHERE len(toks) >= 3
        |),
        |ok AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 100),
        |pairs AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2
        |  FROM sh a JOIN ok o ON a.shingle = o.shingle
        |  JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 5
        |),
        |edges AS (SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs),
        |reach(node, lbl) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.a, r.lbl FROM edges e JOIN reach r ON e.b = r.node
        |),
        |lab AS (SELECT node AS doc_id, MIN(lbl) AS label FROM reach GROUP BY node),
        |cl AS (
        |  SELECT COALESCE(l.label, d.doc_id) AS cluster_id, COUNT(*) AS sz
        |  FROM documents d LEFT JOIN lab l ON l.doc_id = d.doc_id
        |  GROUP BY 1
        |),
        |tot AS (SELECT SUM(sz) AS tot FROM cl)
        |SELECT CAST(length(bin(sz)) AS BIGINT) AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_clusters,
        |  CAST(SUM(sz) AS BIGINT) AS n_docs,
        |  CAST(MIN(sz) AS BIGINT) AS min_size,
        |  CAST(MAX(sz) AS BIGINT) AS max_size,
        |  CAST(SUM(sz) * 1000000 // tot.tot AS BIGINT) AS doc_share_ppm
        |FROM cl CROSS JOIN tot
        |GROUP BY length(bin(sz)), tot.tot
        |ORDER BY bucket""".stripMargin,

    "cc2_cluster_resolve" ->
      """WITH RECURSIVE docs AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks FROM documents
        |),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(len(toks)-2), i -> array_to_string(toks[i+1:i+3], ' '))) AS shingle
        |  FROM docs WHERE len(toks) >= 3
        |),
        |ok AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 100),
        |pairs AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2
        |  FROM sh a JOIN ok o ON a.shingle = o.shingle
        |  JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 5
        |),
        |edges AS (SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs),
        |reach(node, lbl) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.a, r.lbl FROM edges e JOIN reach r ON e.b = r.node
        |),
        |losers AS (
        |  SELECT node FROM (SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node)
        |  WHERE node <> cluster_id
        |)
        |SELECT d.doc_id, d.lang, d.source FROM documents d
        |WHERE d.doc_id NOT IN (SELECT node FROM losers)
        |ORDER BY d.doc_id""".stripMargin,

    // the same 3 power iterations unrolled; dyadic fixed-point
    // contribution sums (Num.fsumSql's grid, parenthesized so the /2^30
    // binds before the 0.85 multiply exactly as the Column tree does)
    // keep every iteration bit-identical to Spark's
    "pr1_pagerank" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks FROM documents
        |),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(len(toks)-2), i -> array_to_string(toks[i+1:i+3], ' '))) AS shingle
        |  FROM docs WHERE len(toks) >= 3
        |),
        |ok AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 100),
        |pairs AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2
        |  FROM sh a JOIN ok o ON a.shingle = o.shingle
        |  JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 5
        |),
        |edges AS (SELECT d1 AS a, d2 AS b FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
        |nodes AS (SELECT DISTINCT a AS node FROM edges),
        |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
        |deg AS (SELECT a, COUNT(*) AS deg FROM edges GROUP BY a),
        |r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS r FROM nodes),
        |r1 AS (
        |  SELECT e.b AS node, 0.15 / (SELECT n FROM nn) +
        |    0.85 * (CAST(CAST(SUM(CAST(round((r.r / d.deg) * 1073741824) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1073741824) AS r
        |  FROM edges e JOIN r0 r ON e.a = r.node JOIN deg d ON e.a = d.a
        |  GROUP BY e.b
        |),
        |r2 AS (
        |  SELECT e.b AS node, 0.15 / (SELECT n FROM nn) +
        |    0.85 * (CAST(CAST(SUM(CAST(round((r.r / d.deg) * 1073741824) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1073741824) AS r
        |  FROM edges e JOIN r1 r ON e.a = r.node JOIN deg d ON e.a = d.a
        |  GROUP BY e.b
        |),
        |r3 AS (
        |  SELECT e.b AS node, 0.15 / (SELECT n FROM nn) +
        |    0.85 * (CAST(CAST(SUM(CAST(round((r.r / d.deg) * 1073741824) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1073741824) AS r
        |  FROM edges e JOIN r2 r ON e.a = r.node JOIN deg d ON e.a = d.a
        |  GROUP BY e.b
        |)
        |SELECT node AS doc_id, r AS pagerank FROM r3 ORDER BY doc_id""".stripMargin,

    // three synchronous LPA rounds unrolled; mode-with-min-tie via
    // ROW_NUMBER (count DESC, label ASC) exactly mirrors TopKPerKey's
    // total order
    "gr3_label_propagation" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks FROM documents
        |),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(len(toks)-2), i -> array_to_string(toks[i+1:i+3], ' '))) AS shingle
        |  FROM docs WHERE len(toks) >= 3
        |),
        |ok AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 100),
        |pairs AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2
        |  FROM sh a JOIN ok o ON a.shingle = o.shingle
        |  JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 5
        |),
        |edges AS (SELECT d1 AS a, d2 AS b FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
        |l0 AS (SELECT DISTINCT a AS node, a AS lbl FROM edges),
        |c1 AS (SELECT e.a, l.lbl, COUNT(*) AS cnt FROM edges e JOIN l0 l ON e.b = l.node GROUP BY 1, 2),
        |l1 AS (SELECT a AS node, lbl FROM (
        |  SELECT a, lbl, ROW_NUMBER() OVER (PARTITION BY a ORDER BY cnt DESC, lbl ASC) AS rn
        |  FROM c1) WHERE rn = 1),
        |c2 AS (SELECT e.a, l.lbl, COUNT(*) AS cnt FROM edges e JOIN l1 l ON e.b = l.node GROUP BY 1, 2),
        |l2 AS (SELECT a AS node, lbl FROM (
        |  SELECT a, lbl, ROW_NUMBER() OVER (PARTITION BY a ORDER BY cnt DESC, lbl ASC) AS rn
        |  FROM c2) WHERE rn = 1),
        |c3 AS (SELECT e.a, l.lbl, COUNT(*) AS cnt FROM edges e JOIN l2 l ON e.b = l.node GROUP BY 1, 2),
        |l3 AS (SELECT a AS node, lbl FROM (
        |  SELECT a, lbl, ROW_NUMBER() OVER (PARTITION BY a ORDER BY cnt DESC, lbl ASC) AS rn
        |  FROM c3) WHERE rn = 1)
        |SELECT node AS doc_id, lbl AS community FROM l3 ORDER BY doc_id""".stripMargin,

    // the same 4 synchronous peel rounds unrolled (KCoreSpec proves
    // the fixture fixpoints at round 3, so depth-4 equals the k-core)
    "gr4_kcore" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks FROM documents
        |),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(len(toks)-2), i -> array_to_string(toks[i+1:i+3], ' '))) AS shingle
        |  FROM docs WHERE len(toks) >= 3
        |),
        |ok AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 100),
        |pairs AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2
        |  FROM sh a JOIN ok o ON a.shingle = o.shingle
        |  JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 5
        |),
        |e0 AS (SELECT d1 AS a, d2 AS b FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
        |k1 AS (SELECT a FROM e0 GROUP BY a HAVING COUNT(*) >= 2),
        |e1 AS (SELECT e.a, e.b FROM e0 e JOIN k1 x ON e.a = x.a JOIN k1 y ON e.b = y.a),
        |k2 AS (SELECT a FROM e1 GROUP BY a HAVING COUNT(*) >= 2),
        |e2 AS (SELECT e.a, e.b FROM e1 e JOIN k2 x ON e.a = x.a JOIN k2 y ON e.b = y.a),
        |k3 AS (SELECT a FROM e2 GROUP BY a HAVING COUNT(*) >= 2),
        |e3 AS (SELECT e.a, e.b FROM e2 e JOIN k3 x ON e.a = x.a JOIN k3 y ON e.b = y.a),
        |k4 AS (SELECT a FROM e3 GROUP BY a HAVING COUNT(*) >= 2),
        |e4 AS (SELECT e.a, e.b FROM e3 e JOIN k4 x ON e.a = x.a JOIN k4 y ON e.b = y.a)
        |SELECT a AS doc_id, COUNT(*) AS deg_in_core
        |FROM e4 GROUP BY a ORDER BY doc_id""".stripMargin,

    // depth-capped recursive reach (d < 4) + min(d): re-derives every
    // path pair where Spark's frontier expansion visits each node once —
    // equal results whenever both sides cap at the same radius
    "gr5_bfs_hops" ->
      """WITH RECURSIVE docs AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks FROM documents
        |),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(len(toks)-2), i -> array_to_string(toks[i+1:i+3], ' '))) AS shingle
        |  FROM docs WHERE len(toks) >= 3
        |),
        |ok AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 100),
        |pairs AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2
        |  FROM sh a JOIN ok o ON a.shingle = o.shingle
        |  JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 5
        |),
        |e0 AS (SELECT d1 AS a, d2 AS b FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
        |hub AS (SELECT a FROM e0 GROUP BY a ORDER BY COUNT(*) DESC, a ASC LIMIT 1),
        |reach(node, d) AS (
        |  SELECT a, 0 FROM hub
        |  UNION
        |  SELECT e.b, r.d + 1 FROM e0 e JOIN reach r ON e.a = r.node WHERE r.d < 4
        |)
        |SELECT node AS doc_id, CAST(min(d) AS BIGINT) AS hops
        |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin,

    // pr1's unrolled grid CTE with the teleport term moved onto the
    // hub (CASE instead of 0.15/n) and r0 an indicator vector
    "gr6_personalized_pagerank" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks FROM documents
        |),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(len(toks)-2), i -> array_to_string(toks[i+1:i+3], ' '))) AS shingle
        |  FROM docs WHERE len(toks) >= 3
        |),
        |ok AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 100),
        |pairs AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2
        |  FROM sh a JOIN ok o ON a.shingle = o.shingle
        |  JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 5
        |),
        |e0 AS (SELECT d1 AS a, d2 AS b FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
        |hub AS (SELECT a FROM e0 GROUP BY a ORDER BY COUNT(*) DESC, a ASC LIMIT 1),
        |nodes AS (SELECT DISTINCT a AS node FROM e0),
        |deg AS (SELECT a, COUNT(*) AS deg FROM e0 GROUP BY a),
        |r0 AS (
        |  SELECT node, CASE WHEN node = (SELECT a FROM hub)
        |    THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS r
        |  FROM nodes
        |),
        |r1 AS (
        |  SELECT e.b AS node,
        |    CASE WHEN e.b = (SELECT a FROM hub) THEN CAST(0.15 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END +
        |    0.85 * (CAST(CAST(SUM(CAST(round((r.r / d.deg) * 1073741824) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1073741824) AS r
        |  FROM e0 e JOIN r0 r ON e.a = r.node JOIN deg d ON e.a = d.a
        |  GROUP BY e.b
        |),
        |r2 AS (
        |  SELECT e.b AS node,
        |    CASE WHEN e.b = (SELECT a FROM hub) THEN CAST(0.15 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END +
        |    0.85 * (CAST(CAST(SUM(CAST(round((r.r / d.deg) * 1073741824) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1073741824) AS r
        |  FROM e0 e JOIN r1 r ON e.a = r.node JOIN deg d ON e.a = d.a
        |  GROUP BY e.b
        |),
        |r3 AS (
        |  SELECT e.b AS node,
        |    CASE WHEN e.b = (SELECT a FROM hub) THEN CAST(0.15 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END +
        |    0.85 * (CAST(CAST(SUM(CAST(round((r.r / d.deg) * 1073741824) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1073741824) AS r
        |  FROM e0 e JOIN r2 r ON e.a = r.node JOIN deg d ON e.a = d.a
        |  GROUP BY e.b
        |)
        |SELECT node AS doc_id, r AS ppr FROM r3 ORDER BY doc_id""".stripMargin,

    // gr3's unrolled LPA CTE + the exact-rational modularity terms;
    // no division anywhere, so sign never meets an integer-division
    // dialect difference
    "gr9_modularity" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks FROM documents
        |),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(len(toks)-2), i -> array_to_string(toks[i+1:i+3], ' '))) AS shingle
        |  FROM docs WHERE len(toks) >= 3
        |),
        |ok AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 100),
        |pairs AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2
        |  FROM sh a JOIN ok o ON a.shingle = o.shingle
        |  JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 5
        |),
        |edges AS (SELECT d1 AS a, d2 AS b FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
        |l0 AS (SELECT DISTINCT a AS node, a AS lbl FROM edges),
        |c1 AS (SELECT e.a, l.lbl, COUNT(*) AS cnt FROM edges e JOIN l0 l ON e.b = l.node GROUP BY 1, 2),
        |l1 AS (SELECT a AS node, lbl FROM (
        |  SELECT a, lbl, ROW_NUMBER() OVER (PARTITION BY a ORDER BY cnt DESC, lbl ASC) AS rn
        |  FROM c1) WHERE rn = 1),
        |c2 AS (SELECT e.a, l.lbl, COUNT(*) AS cnt FROM edges e JOIN l1 l ON e.b = l.node GROUP BY 1, 2),
        |l2 AS (SELECT a AS node, lbl FROM (
        |  SELECT a, lbl, ROW_NUMBER() OVER (PARTITION BY a ORDER BY cnt DESC, lbl ASC) AS rn
        |  FROM c2) WHERE rn = 1),
        |c3 AS (SELECT e.a, l.lbl, COUNT(*) AS cnt FROM edges e JOIN l2 l ON e.b = l.node GROUP BY 1, 2),
        |l3 AS (SELECT a AS node, lbl FROM (
        |  SELECT a, lbl, ROW_NUMBER() OVER (PARTITION BY a ORDER BY cnt DESC, lbl ASC) AS rn
        |  FROM c3) WHERE rn = 1),
        |mm AS (SELECT COUNT(*) AS m FROM pairs),
        |intra AS (
        |  SELECT x.lbl AS community, COUNT(*) AS intra_edges
        |  FROM pairs p JOIN l3 x ON p.d1 = x.node JOIN l3 y ON p.d2 = y.node
        |  WHERE x.lbl = y.lbl GROUP BY 1
        |),
        |degs AS (SELECT a, COUNT(*) AS dg FROM edges GROUP BY a),
        |com AS (
        |  SELECT l.lbl AS community, COUNT(*) AS n_nodes,
        |    CAST(SUM(d.dg) AS BIGINT) AS degree_sum
        |  FROM l3 l JOIN degs d ON l.node = d.a GROUP BY 1
        |)
        |SELECT c.community, c.n_nodes,
        |  COALESCE(i.intra_edges, 0) AS intra_edges, c.degree_sum,
        |  4 * mm.m * COALESCE(i.intra_edges, 0) - c.degree_sum * c.degree_sum AS q_num,
        |  4 * mm.m * mm.m AS q_den
        |FROM com c LEFT JOIN intra i ON c.community = i.community, mm
        |ORDER BY c.community""".stripMargin,

    "gr8_component_size_histogram" ->
      """WITH RECURSIVE docs AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks FROM documents
        |),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(len(toks)-2), i -> array_to_string(toks[i+1:i+3], ' '))) AS shingle
        |  FROM docs WHERE len(toks) >= 3
        |),
        |ok AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 100),
        |pairs AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2
        |  FROM sh a JOIN ok o ON a.shingle = o.shingle
        |  JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 5
        |),
        |edges AS (SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs),
        |reach(node, lbl) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.a, r.lbl FROM edges e JOIN reach r ON e.b = r.node
        |),
        |lab AS (SELECT node, min(lbl) AS label FROM reach GROUP BY node),
        |sz AS (SELECT label, COUNT(*) AS cluster_size FROM lab GROUP BY label)
        |SELECT cluster_size, COUNT(*) AS n_clusters
        |FROM sz GROUP BY cluster_size ORDER BY cluster_size""".stripMargin,

    // cc1's closure + per-cluster size + the integer downweight;
    // singleton docs via the LEFT JOIN COALESCE
    "d34_soft_dedup_weights" ->
      """WITH RECURSIVE docs AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks FROM documents
        |),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(len(toks)-2), i -> array_to_string(toks[i+1:i+3], ' '))) AS shingle
        |  FROM docs WHERE len(toks) >= 3
        |),
        |ok AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 100),
        |pairs AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2
        |  FROM sh a JOIN ok o ON a.shingle = o.shingle
        |  JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 5
        |),
        |edges AS (SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs),
        |reach(node, lbl) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.a, r.lbl FROM edges e JOIN reach r ON e.b = r.node
        |),
        |lab AS (SELECT node, min(lbl) AS label FROM reach GROUP BY node),
        |wl AS (
        |  SELECT d.doc_id, COALESCE(l.label, d.doc_id) AS cluster_id
        |  FROM documents d LEFT JOIN lab l ON d.doc_id = l.node
        |),
        |sz AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM wl GROUP BY cluster_id)
        |SELECT wl.doc_id, wl.cluster_id, sz.cluster_size,
        |  1000000 // sz.cluster_size AS weight_ppm
        |FROM wl JOIN sz ON wl.cluster_id = sz.cluster_id
        |WHERE wl.doc_id % 20 = 0
        |ORDER BY wl.doc_id""".stripMargin,

    "gr7_degree_histogram" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks FROM documents
        |),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(len(toks)-2), i -> array_to_string(toks[i+1:i+3], ' '))) AS shingle
        |  FROM docs WHERE len(toks) >= 3
        |),
        |ok AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 100),
        |pairs AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2
        |  FROM sh a JOIN ok o ON a.shingle = o.shingle
        |  JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 5
        |),
        |e0 AS (SELECT d1 AS a, d2 AS b FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
        |deg AS (SELECT a, COUNT(*) AS deg FROM e0 GROUP BY a)
        |SELECT deg, COUNT(*) AS n_nodes FROM deg GROUP BY deg ORDER BY deg""".stripMargin,

    // cc1's closure + d11's md5 bucket CASE, keyed by the cluster
    // representative instead of the doc — singletons via COALESCE
    "d31_leakfree_split" ->
      """WITH RECURSIVE docs AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks FROM documents
        |),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(len(toks)-2), i -> array_to_string(toks[i+1:i+3], ' '))) AS shingle
        |  FROM docs WHERE len(toks) >= 3
        |),
        |ok AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 100),
        |pairs AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2
        |  FROM sh a JOIN ok o ON a.shingle = o.shingle
        |  JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 5
        |),
        |edges AS (SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs),
        |reach(node, lbl) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.a, r.lbl FROM edges e JOIN reach r ON e.b = r.node
        |),
        |lab AS (SELECT node, min(lbl) AS label FROM reach GROUP BY node),
        |wl AS (
        |  SELECT d.doc_id, d.n_chars, COALESCE(l.label, d.doc_id) AS cluster_id
        |  FROM documents d LEFT JOIN lab l ON d.doc_id = l.node
        |)
        |SELECT CASE
        |    WHEN substr(md5(CAST(cluster_id AS VARCHAR)),1,1) < 'c' THEN 'train'
        |    WHEN substr(md5(CAST(cluster_id AS VARCHAR)),1,1) < 'e' THEN 'val'
        |    ELSE 'test' END AS split,
        |  COUNT(*) AS n_docs, COUNT(DISTINCT cluster_id) AS n_clusters,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM wl GROUP BY 1 ORDER BY split""".stripMargin,

    // id-oriented triangle join (a<b<c) — orientation-invariant count,
    // so the oracle needn't replicate Spark's degree ordering
    "gr2_triangle_stats" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks FROM documents
        |),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(len(toks)-2), i -> array_to_string(toks[i+1:i+3], ' '))) AS shingle
        |  FROM docs WHERE len(toks) >= 3
        |),
        |ok AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 100),
        |pairs AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2
        |  FROM sh a JOIN ok o ON a.shingle = o.shingle
        |  JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 5
        |),
        |und AS (SELECT d1 AS a, d2 AS b FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
        |deg AS (SELECT a, COUNT(*) AS dg FROM und GROUP BY a),
        |tri AS (
        |  SELECT COUNT(*) AS t FROM pairs e1
        |  JOIN pairs e2 ON e2.d1 = e1.d2
        |  JOIN pairs e3 ON e3.d1 = e1.d1 AND e3.d2 = e2.d2
        |),
        |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
        |              CAST(SUM(dg * (dg - 1) // 2) AS BIGINT) AS n_wedges FROM deg),
        |ec AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM pairs)
        |SELECT n_nodes, n_edges, n_wedges, CAST(t AS BIGINT) AS n_triangles,
        |  CASE WHEN n_wedges > 0 THEN CAST(3 AS DOUBLE) * t / n_wedges
        |       ELSE CAST(0 AS DOUBLE) END AS gcc
        |FROM st, ec, tri""".stripMargin,

    // gr5's depth-capped recursive reach, but seeded by the 8 smallest
    // node ids and keyed (src, node): min(d) per pair, then the exact
    // integer harmonic mass Σ 12//d over d>0 (lcm(1..4)=12 keeps the
    // score on integers — no float aggregation to make portable)
    "gr10_harmonic_centrality" ->
      """WITH RECURSIVE docs AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks FROM documents
        |),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(len(toks)-2), i -> array_to_string(toks[i+1:i+3], ' '))) AS shingle
        |  FROM docs WHERE len(toks) >= 3
        |),
        |ok AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 100),
        |pairs AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2
        |  FROM sh a JOIN ok o ON a.shingle = o.shingle
        |  JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 5
        |),
        |e0 AS (SELECT d1 AS a, d2 AS b FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
        |pivots AS (SELECT a AS src FROM (SELECT DISTINCT a FROM e0) ORDER BY src ASC LIMIT 8),
        |reach(src, node, d) AS (
        |  SELECT src, src, 0 FROM pivots
        |  UNION
        |  SELECT r.src, e.b, r.d + 1 FROM e0 e JOIN reach r ON e.a = r.node WHERE r.d < 4
        |),
        |dist AS (SELECT src, node, min(d) AS d FROM reach GROUP BY src, node)
        |SELECT node AS doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_pivots_reached,
        |  CAST(SUM(12 // d) AS BIGINT) AS h12
        |FROM dist WHERE d > 0
        |GROUP BY node ORDER BY doc_id""".stripMargin,

    // degree-decorated symmetric edges, integer sufficient statistics,
    // one double division at the very end (Sx=Sy on a symmetric list)
    "gr11_degree_assortativity" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks FROM documents
        |),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(len(toks)-2), i -> array_to_string(toks[i+1:i+3], ' '))) AS shingle
        |  FROM docs WHERE len(toks) >= 3
        |),
        |ok AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 100),
        |pairs AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2
        |  FROM sh a JOIN ok o ON a.shingle = o.shingle
        |  JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 5
        |),
        |e0 AS (SELECT d1 AS a, d2 AS b FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
        |deg AS (SELECT a, COUNT(*) AS dg FROM e0 GROUP BY a),
        |j AS (
        |  SELECT x.dg AS da, y.dg AS db
        |  FROM e0 JOIN deg x ON e0.a = x.a JOIN deg y ON e0.b = y.a
        |),
        |st AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS m_directed,
        |    CAST(SUM(da * db) AS BIGINT) AS sxy,
        |    CAST(SUM(da) AS BIGINT) AS sx,
        |    CAST(SUM(da * da) AS BIGINT) AS sxx
        |  FROM j
        |)
        |SELECT m_directed, sxy, sx, sxx,
        |  m_directed * sxy - sx * sx AS r_num,
        |  m_directed * sxx - sx * sx AS r_den,
        |  CAST(m_directed * sxy - sx * sx AS DOUBLE)
        |    / CAST(m_directed * sxx - sx * sx AS DOUBLE) AS assortativity
        |FROM st""".stripMargin,

    // the same wedge self-join closed against the u<w edge list; exact
    // integer numerators, one double division
    "gr13_local_clustering" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks FROM documents
        |),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(len(toks)-2), i -> array_to_string(toks[i+1:i+3], ' '))) AS shingle
        |  FROM docs WHERE len(toks) >= 3
        |),
        |ok AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 100),
        |pairs AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2
        |  FROM sh a JOIN ok o ON a.shingle = o.shingle
        |  JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 5
        |),
        |e0 AS (SELECT d1 AS a, d2 AS b FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
        |deg AS (SELECT a, COUNT(*) AS degree FROM e0 GROUP BY a),
        |tri AS (
        |  SELECT x.a AS v, COUNT(*) AS n_triangles
        |  FROM e0 x JOIN e0 y ON x.a = y.a AND x.b < y.b
        |  WHERE EXISTS (SELECT 1 FROM pairs p WHERE p.d1 = x.b AND p.d2 = y.b)
        |  GROUP BY x.a
        |)
        |SELECT d.a AS doc_id, CAST(d.degree AS BIGINT) AS degree,
        |  CAST(COALESCE(t.n_triangles, 0) AS BIGINT) AS n_triangles,
        |  CAST(2 * COALESCE(t.n_triangles, 0) AS BIGINT) AS lcc_num,
        |  CAST(d.degree * (d.degree - 1) AS BIGINT) AS lcc_den,
        |  CASE WHEN d.degree > 1 THEN
        |    CAST(2 * COALESCE(t.n_triangles, 0) AS DOUBLE)
        |      / CAST(d.degree * (d.degree - 1) AS DOUBLE)
        |  ELSE CAST(0 AS DOUBLE) END AS lcc
        |FROM deg d LEFT JOIN tri t ON t.v = d.a
        |ORDER BY doc_id""".stripMargin,

    // the same self-join / distinct / anti-join algebra on the string-
    // shingle edges; direct neighbors excluded from the reach set
    "gr12_two_hop_reach" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks FROM documents
        |),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(len(toks)-2), i -> array_to_string(toks[i+1:i+3], ' '))) AS shingle
        |  FROM docs WHERE len(toks) >= 3
        |),
        |ok AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 100),
        |pairs AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2
        |  FROM sh a JOIN ok o ON a.shingle = o.shingle
        |  JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 5
        |),
        |e0 AS (SELECT d1 AS a, d2 AS b FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
        |deg AS (SELECT a, COUNT(*) AS n_direct FROM e0 GROUP BY a),
        |th AS (
        |  SELECT DISTINCT x.a, y.b AS c
        |  FROM e0 x JOIN e0 y ON x.b = y.a
        |  WHERE x.a <> y.b
        |),
        |fof AS (
        |  SELECT th.a, COUNT(*) AS n_fof
        |  FROM th
        |  WHERE NOT EXISTS (SELECT 1 FROM e0 WHERE e0.a = th.a AND e0.b = th.c)
        |  GROUP BY th.a
        |)
        |SELECT d.a AS doc_id, CAST(d.n_direct AS BIGINT) AS n_direct,
        |  CAST(COALESCE(f.n_fof, 0) AS BIGINT) AS n_fof
        |FROM deg d LEFT JOIN fof f ON f.a = d.a
        |ORDER BY doc_id""".stripMargin,

    // cc1's transitive closure + both keeper policies side by side:
    // a (chars DESC, id ASC) window pick vs the min-id aggregate
    "d36_keep_longest_policy" ->
      """WITH RECURSIVE docs AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks FROM documents
        |),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(len(toks)-2), i -> array_to_string(toks[i+1:i+3], ' '))) AS shingle
        |  FROM docs WHERE len(toks) >= 3
        |),
        |ok AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 100),
        |pairs AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2
        |  FROM sh a JOIN ok o ON a.shingle = o.shingle
        |  JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 5
        |),
        |edges AS (SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs),
        |reach(node, lbl) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.a, r.lbl FROM edges e JOIN reach r ON e.b = r.node
        |),
        |lab AS (SELECT node AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY node),
        |mem AS (
        |  SELECT l.cluster_id, l.doc_id, d.n_chars
        |  FROM lab l JOIN documents d ON d.doc_id = l.doc_id
        |),
        |lng AS (
        |  SELECT cluster_id, doc_id AS keeper_longest, n_chars AS kept_chars_longest
        |  FROM (SELECT cluster_id, doc_id, n_chars,
        |          ROW_NUMBER() OVER (PARTITION BY cluster_id
        |                             ORDER BY n_chars DESC, doc_id ASC) AS rn
        |        FROM mem)
        |  WHERE rn = 1
        |),
        |mn AS (
        |  SELECT cluster_id, COUNT(*) AS cluster_size, MIN(doc_id) AS keeper_minid
        |  FROM mem GROUP BY cluster_id
        |)
        |SELECT l.cluster_id, CAST(m.cluster_size AS BIGINT) AS cluster_size,
        |  l.keeper_longest, l.kept_chars_longest,
        |  m.keeper_minid, mc.n_chars AS kept_chars_minid,
        |  l.keeper_longest = m.keeper_minid AS policy_agrees
        |FROM lng l JOIN mn m ON m.cluster_id = l.cluster_id
        |JOIN mem mc ON mc.doc_id = m.keeper_minid
        |ORDER BY l.cluster_id""".stripMargin,

    // cc1's transitive closure, p8's md5 int52 fold as the in-cluster
    // rank key, the log2 string identity, singletons from two scalar
    // counts; every cell BIGINT
    "d41_frequency_cap" ->
      """WITH RECURSIVE docs AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks FROM documents
        |),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(len(toks)-2), i -> array_to_string(toks[i+1:i+3], ' '))) AS shingle
        |  FROM docs WHERE len(toks) >= 3
        |),
        |ok AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 100),
        |pairs AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2
        |  FROM sh a JOIN ok o ON a.shingle = o.shingle
        |  JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 5
        |),
        |edges AS (SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs),
        |reach(node, lbl) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.a, r.lbl FROM edges e JOIN reach r ON e.b = r.node
        |),
        |lab AS (SELECT node AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY node),
        |mem AS (
        |  SELECT cluster_id, doc_id,
        |    list_reduce(list_transform(range(13),
        |      dd -> strpos('0123456789abcdef',
        |            substr(md5(CAST(doc_id AS VARCHAR)), dd+1, 1)) - 1),
        |      (acc, v) -> acc*16 + v)::BIGINT AS okey
        |  FROM lab
        |),
        |per AS (
        |  SELECT cluster_id, COUNT(*) AS sz,
        |    SUM(CASE WHEN rn <= 2 THEN 1 ELSE 0 END) AS kept,
        |    SUM(CASE WHEN rn <= 2 THEN doc_id ELSE 0 END) AS kfp,
        |    SUM(doc_id) AS idsum
        |  FROM (SELECT cluster_id, doc_id,
        |          ROW_NUMBER() OVER (PARTITION BY cluster_id
        |                             ORDER BY okey, doc_id) AS rn
        |        FROM mem)
        |  GROUP BY cluster_id
        |),
        |bucketed AS (
        |  SELECT CAST(length(bin(sz)) AS BIGINT) AS bucket,
        |    COUNT(*) AS n_clusters, SUM(sz) AS n_docs,
        |    SUM(kept) AS n_kept, SUM(sz - kept) AS n_dropped,
        |    SUM(kfp) % 2305843009213693951 AS kept_id_fp
        |  FROM per GROUP BY 1
        |),
        |tot AS (SELECT COUNT(*) AS n_total, SUM(doc_id) AS id_total
        |        FROM documents),
        |cl AS (SELECT COALESCE(SUM(sz), 0) AS n_clustered,
        |         COALESCE(SUM(idsum), 0) AS id_clustered FROM per),
        |singles AS (
        |  SELECT CAST(1 AS BIGINT) AS bucket,
        |    n_total - n_clustered AS n_clusters,
        |    n_total - n_clustered AS n_docs,
        |    n_total - n_clustered AS n_kept,
        |    0 AS n_dropped,
        |    (id_total - id_clustered) % 2305843009213693951 AS kept_id_fp
        |  FROM tot CROSS JOIN cl
        |)
        |SELECT bucket, CAST(n_clusters AS BIGINT) AS n_clusters,
        |  CAST(n_docs AS BIGINT) AS n_docs, CAST(n_kept AS BIGINT) AS n_kept,
        |  CAST(n_dropped AS BIGINT) AS n_dropped,
        |  CAST(n_dropped * 1000000 // n_docs AS BIGINT) AS drop_ppm,
        |  CAST(kept_id_fp AS BIGINT) AS kept_id_fp
        |FROM (SELECT * FROM bucketed UNION ALL SELECT * FROM singles)
        |ORDER BY bucket""".stripMargin,

    // d5's brute-force top-5 CTE (bit-identical left-fold cosine),
    // then the same wedge self-join / anti-join / inclusion-exclusion
    // algebra on the mutual-kNN edges; cn >= 2 pigeonhole floor
    "gr14_link_prediction" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |),
        |n AS (
        |  SELECT vec_id, v,
        |    sqrt(list_reduce(list_transform(v, x -> x*x), (x, y) -> x + y)) AS norm
        |  FROM e
        |),
        |p0 AS (
        |  SELECT a.vec_id AS vec_id, b.vec_id AS nbr,
        |    list_reduce(list_transform(range(len(a.v)), i -> a.v[i+1]*b.v[i+1]), (x, y) -> x + y)
        |      / (a.norm * b.norm) AS cos
        |  FROM (SELECT * FROM n ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 2048) a
        |  JOIN n b ON a.vec_id <> b.vec_id
        |),
        |knn AS (
        |  SELECT vec_id, nbr FROM (
        |    SELECT vec_id, nbr,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, nbr ASC) AS rn
        |    FROM p0)
        |  WHERE rn <= 5
        |),
        |mut AS (
        |  SELECT a.vec_id AS d1, a.nbr AS d2
        |  FROM knn a JOIN knn b ON a.vec_id = b.nbr AND a.nbr = b.vec_id
        |  WHERE a.vec_id < a.nbr
        |),
        |e0 AS (SELECT d1 AS a, d2 AS b FROM mut UNION ALL SELECT d2, d1 FROM mut),
        |deg AS (SELECT a, COUNT(*) AS degree FROM e0 GROUP BY a),
        |cand AS (
        |  SELECT x.b AS u, y.b AS w, COUNT(*) AS cn
        |  FROM e0 x JOIN e0 y ON x.a = y.a AND x.b < y.b
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2
        |),
        |miss AS (
        |  SELECT c.* FROM cand c
        |  WHERE NOT EXISTS (SELECT 1 FROM mut p WHERE p.d1 = c.u AND p.d2 = c.w)
        |)
        |SELECT m.u, m.w, CAST(m.cn AS BIGINT) AS cn,
        |  CAST(du.degree AS BIGINT) AS deg_u, CAST(dw.degree AS BIGINT) AS deg_w,
        |  CAST(du.degree + dw.degree - m.cn AS BIGINT) AS union_deg,
        |  CAST(m.cn AS DOUBLE) / CAST(du.degree + dw.degree - m.cn AS DOUBLE) AS jaccard
        |FROM miss m JOIN deg du ON du.a = m.u JOIN deg dw ON dw.a = m.w
        |ORDER BY m.u, m.w""".stripMargin,

    // the exact-kNN CTE (d5's fold contract) at k=5 with rank kept;
    // reciprocity = the reverse edge exists at any rank <= 5
    "gr17_knn_reciprocity" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |),
        |n AS (
        |  SELECT vec_id, v,
        |    sqrt(list_reduce(list_transform(v, x -> x*x), (x, y) -> x + y)) AS norm
        |  FROM e
        |),
        |pairs AS (
        |  SELECT a.vec_id AS vec_id, b.vec_id AS nbr,
        |    list_reduce(list_transform(range(len(a.v)), i -> a.v[i+1]*b.v[i+1]), (x, y) -> x + y)
        |      / (a.norm * b.norm) AS cos
        |  FROM (SELECT * FROM n ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 2048) a
        |  JOIN n b ON a.vec_id <> b.vec_id
        |),
        |knn AS (
        |  SELECT vec_id, nbr, rn FROM (
        |    SELECT vec_id, nbr,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, nbr ASC) AS rn
        |    FROM pairs) WHERE rn <= 5
        |)
        |SELECT CAST(a.rn AS BIGINT) AS rn, COUNT(*) AS n_edges,
        |  CAST(SUM(CASE WHEN EXISTS (
        |    SELECT 1 FROM knn b WHERE b.vec_id = a.nbr AND b.nbr = a.vec_id)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_mutual,
        |  CAST(SUM(CASE WHEN EXISTS (
        |    SELECT 1 FROM knn b WHERE b.vec_id = a.nbr AND b.nbr = a.vec_id)
        |    THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT) AS mutual_ppm
        |FROM knn a GROUP BY a.rn ORDER BY rn""".stripMargin,

    // the same exact-kNN CTE with cos kept; occlusion replayed with the
    // identical fold for both cosines of every comparison
    "gr18_rng_prune" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |),
        |n AS (
        |  SELECT vec_id, v,
        |    sqrt(list_reduce(list_transform(v, x -> x*x), (x, y) -> x + y)) AS norm
        |  FROM e
        |),
        |pairs AS (
        |  SELECT a.vec_id AS vec_id, b.vec_id AS nbr,
        |    list_reduce(list_transform(range(len(a.v)), i -> a.v[i+1]*b.v[i+1]), (x, y) -> x + y)
        |      / (a.norm * b.norm) AS cos
        |  FROM (SELECT * FROM n ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 2048) a
        |  JOIN n b ON a.vec_id <> b.vec_id
        |),
        |knn AS (
        |  SELECT vec_id, nbr, cos, rn FROM (
        |    SELECT vec_id, nbr, cos,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, nbr ASC) AS rn
        |    FROM pairs) WHERE rn <= 5
        |),
        |cand AS (
        |  SELECT c.vec_id AS qid, c.rn, c.nbr AS cid, c.cos AS cos_qc, p.nbr AS sid
        |  FROM knn c JOIN knn p ON p.vec_id = c.vec_id AND p.rn < c.rn
        |),
        |sc AS (
        |  SELECT cand.qid, cand.rn, cand.cos_qc,
        |    list_reduce(list_transform(range(len(s.v)), i -> s.v[i+1]*c2.v[i+1]), (x, y) -> x + y)
        |      / (s.norm * c2.norm) AS cos_sc
        |  FROM cand JOIN n s ON s.vec_id = cand.sid JOIN n c2 ON c2.vec_id = cand.cid
        |),
        |occ AS (
        |  SELECT qid, rn, MAX(CASE WHEN cos_sc > cos_qc THEN 1 ELSE 0 END) AS occ
        |  FROM sc GROUP BY qid, rn
        |)
        |SELECT CAST(k.rn AS BIGINT) AS rn, COUNT(*) AS n_edges,
        |  CAST(SUM(CASE WHEN COALESCE(o.occ, 0) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(SUM(CASE WHEN COALESCE(o.occ, 0) = 0 THEN 1 ELSE 0 END) * 1000000
        |    // COUNT(*) AS BIGINT) AS kept_ppm
        |FROM knn k LEFT JOIN occ o ON o.qid = k.vec_id AND o.rn = k.rn
        |GROUP BY k.rn ORDER BY rn""".stripMargin,

    // transitive-closure labels name the representatives; one recursive
    // BFS seeded with ALL of them, min hop per (src, node)
    "gr15_component_eccentricity" ->
      """WITH RECURSIVE docs AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks FROM documents
        |),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(len(toks)-2), i -> array_to_string(toks[i+1:i+3], ' '))) AS shingle
        |  FROM docs WHERE len(toks) >= 3
        |),
        |ok AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 100),
        |pairs AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2
        |  FROM sh a JOIN ok o ON a.shingle = o.shingle
        |  JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 5
        |),
        |e0 AS (SELECT d1 AS a, d2 AS b FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
        |cl(node, lbl) AS (
        |  SELECT a, a FROM e0
        |  UNION
        |  SELECT e.a, r.lbl FROM e0 e JOIN cl r ON e.b = r.node
        |),
        |lab AS (SELECT node, MIN(lbl) AS label FROM cl GROUP BY node),
        |reps AS (SELECT DISTINCT label AS src FROM lab),
        |reach(src, node, d) AS (
        |  SELECT src, src, 0 FROM reps
        |  UNION
        |  SELECT r.src, e.b, r.d + 1 FROM e0 e JOIN reach r ON e.a = r.node
        |  WHERE r.d < 4
        |),
        |hops AS (SELECT src, node, MIN(d) AS hops FROM reach GROUP BY src, node),
        |sizes AS (SELECT label, COUNT(*) AS n_members FROM lab GROUP BY label)
        |SELECT h.src AS cluster_id, CAST(s.n_members AS BIGINT) AS n_members,
        |  CAST(COUNT(*) AS BIGINT) AS n_reached,
        |  CAST(MAX(h.hops) AS BIGINT) AS ecc,
        |  COUNT(*) = s.n_members AS fully_connected
        |FROM hops h
        |JOIN lab l ON l.node = h.node AND l.label = h.src
        |JOIN sizes s ON s.label = h.src
        |GROUP BY h.src, s.n_members
        |ORDER BY cluster_id""".stripMargin,
  )
}
