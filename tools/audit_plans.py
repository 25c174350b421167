"""Physical-plan audit → PLANS.md.

Captures `.explain("formatted")` for the engine's load-bearing plans and
asserts the properties that matter at 100 TB:

- parquet scans show column pruning (ReadSchema) and predicate pushdown
  (PushedFilters) — a scan reading all columns for a 2-column projection is
  a bug;
- one PageRank superstep contains exactly one exchange on the big relation
  path (adjacency cached+pre-partitioned, base ranks folded into the agg);
- star-join dims broadcast (BroadcastHashJoin, no shuffle of the fact side
  beyond the agg);
- wedge join keeps whole-stage codegen spans around the joins.

Usage: python tools/audit_plans.py   (writes PLANS.md)
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def fmt(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main():
    from pyspark.sql import functions as F

    from elektra_spark.session import get_spark

    spark = get_spark("plan-audit", extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")

    sections: list[tuple[str, str, list[str]]] = []

    # 1. pruned + pushed scan
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    q = li.filter(F.col("l_quantity") > 45).select("l_orderkey", "l_partkey")
    p = fmt(q)
    checks = []
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    checks.append(f"column pruning: ReadSchema carries only `{m.group(1)}`" if m and "l_quantity" in m.group(1)
                  and "l_extendedprice" not in m.group(1) else "FAIL: scan not pruned")
    checks.append("predicate pushdown: " + ("PushedFilters carries GreaterThan(l_quantity,45.0)"
                  if "GreaterThan(l_quantity" in p else "FAIL: filter not pushed"))
    sections.append(("Filtered projection scan (lineitem)", p, checks))

    # 2. PageRank superstep plan: one exchange on the contribution path
    from elektra_spark.checkpoint import EphemeralCheckpointer
    from elektra_spark.operators.pagerank import _prepare

    edges = spark.createDataFrame([(i, i + 1) for i in range(2000)], "src long, dst long")
    adj_deg, deg, universe, _ = _prepare(edges, None, False)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    adj_deg = adj_deg.repartition(parts, "src").persist()
    adj_deg.count()
    universe = universe.repartition(parts, "vid").persist()
    n = universe.count()
    ranks = EphemeralCheckpointer()(universe.withColumn("rank", F.lit(1.0 / n)), 0)
    base = universe.select(F.col("vid").alias("dst"), F.lit(0.0).alias("c"))
    partial = adj_deg.join(ranks.hint("shuffle_hash"), adj_deg.src == ranks.vid).select(
        "dst", (F.col("rank") / F.col("deg")).alias("c")
    )
    new_ranks = partial.union(base).groupBy("dst").agg(F.sum("c").alias("contrib"))
    p = fmt(new_ranks)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    n_ex = len(re.findall(r"\bExchange\b", p.split("== Physical Plan ==")[-1].split("(1) ")[0])) or p.count("Exchange hashpartitioning")
    exchanges = re.findall(r"Exchange hashpartitioning\(([a-z_]+)", p)
    ok = "src" not in exchanges  # adjacency side must NOT re-shuffle
    # rank-side-exchange assertion: the persisted rank frame advertises the
    # hash(vid) partitioning its producing aggregation left, so the join must
    # not insert an exchange on vid either (r3 ADVICE: assert it from the
    # captured plan instead of printing it as unchecked prose)
    rank_ok = "vid" not in exchanges
    checks = [
        f"exchanges in superstep: {exchanges} — adjacency side reuses its cached partitioning"
        if ok else f"FAIL: adjacency re-shuffled ({exchanges})",
        "rank side persisted in-JVM (EphemeralCheckpointer) keeps hash(vid): no vid exchange "
        "in the captured plan" if rank_ok else f"FAIL: rank side re-shuffled ({exchanges})",
        "note: the superstep after a hard parquet commit (every truncate_every rounds) "
        "re-exchanges the rank side once — not captured here",
        "ShuffledHashJoin on rank side (no per-round sort of the big relation)"
        if "ShuffledHashJoin" in p else "note: join strategy " + ("SortMergeJoin" if "SortMergeJoin" in p else "?"),
        "partial_sum map-side combine present" if "partial_sum" in p else "FAIL: no partial aggregation",
    ]
    sections.append(("PageRank superstep (contribution + aggregate)", p, checks))

    # 2b. bsp superstep plan: the load-bearing property is what is ABSENT —
    # no scan of the edge table (CSR blocks are worker-resident; Spark only
    # routes the cross-bucket message rows between the two Arrow stages)
    from elektra_spark.operators.pagerank import pagerank

    edges_small = spark.createDataFrame([(i, i + 1) for i in range(500)], "src long, dst long")
    r = pagerank(edges_small, n_iter=1, kernel="bsp")
    # the superstep plan is internal (driven by .collect() inside the loop);
    # audit the *final emit* plan instead, which shows the same shape: an
    # Arrow stage over the B-row driver frame with no edge-table scan
    p = fmt(r)
    n_scans = len(re.findall(r"Scan parquet", p))
    checks = [
        "no edge-table parquet scan in the rank plan (adjacency lives in "
        "worker-resident CSR blocks; Spark moves only bucket ids + messages)"
        if n_scans == 0 else f"note: {n_scans} parquet scans in the emitted-rank plan",
        "FlatMapGroupsInPandas (Arrow stage) present"
        if "FlatMapGroupsInPandas" in p or "InPandas" in p
        else "note: final frame materialized from checkpoint (persisted/parquet) — "
        "the superstep itself is two chained Arrow stages (see pagerank.py:_pagerank_bsp)",
    ]
    sections.append(("PageRank bsp kernel (message-minimal superstep; emitted ranks)", p, checks))

    # 3. star join: dims broadcast
    import __spark_entry__ as entry

    q = entry.queries()["revenue_by_region_status"](spark, SF_DIR)
    p = fmt(q)
    nb = p.count("BroadcastHashJoin")
    checks = [f"BroadcastHashJoin ×{nb} (customer/nation/region dims broadcast)" if nb >= 3
              else f"FAIL: only {nb} broadcast joins"]
    sections.append(("Star-join revenue aggregate", p, checks))

    # 4. triangle wedge join codegen — audit with AQE off: the adaptive plan
    # prints AdaptiveSparkPlan isFinalPlan=false without codegen ids (the
    # runtime plan still codegens; this is an explain artifact)
    from elektra_spark.operators.triangles import triangle_count

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    e = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        F.col("l_orderkey").alias("src"), F.col("l_partkey").alias("dst")
    ).dropDuplicates(["src", "dst"])
    p = fmt(triangle_count(e))
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spans = len(set(re.findall(r"codegen id : (\d+)", p)))
    checks = [f"WholeStageCodegen spans: {spans}" if spans >= 3 else f"FAIL: codegen spans {spans}"]
    sections.append(("Degree-ordered triangle count", p, checks))

    # 5. derive_graph offsets: hierarchical prefix sum — no single-partition window
    from pyspark.sql import Window

    from elektra_spark.ingest.transcripts import synth_transcripts

    t = synth_transcripts(spark, 500, seed=42)
    conv_len = t.groupBy("conv_id").agg((F.max("turn_idx") + 1).alias("conv_len"))
    ranged = conv_len.repartitionByRange(8, "conv_id").withColumn("pid", F.spark_partition_id())
    w = Window.partitionBy("pid").orderBy("conv_id").rowsBetween(Window.unboundedPreceding, -1)
    local = ranged.withColumn("local_off", F.coalesce(F.sum("conv_len").over(w), F.lit(0)))
    p = fmt(local)
    checks = [
        "window partitioned by pid (parallel running sums)"
        if "Exchange SinglePartition" not in p
        else "FAIL: single-partition exchange in the offset window",
        "range partitioning on conv_id feeds the window"
        if "rangepartitioning(conv_id" in p
        else "note: range exchange not visible in plan",
    ]
    sections.append(("derive_graph conversation-offset prefix sum (two-level)", p, checks))

    # 6. full edge derivation: no single-partition exchange anywhere
    from elektra_spark.ingest.edges import derive_graph

    g = derive_graph(t)
    p = fmt(g.edges)
    checks = [
        "edge derivation plan free of Exchange SinglePartition"
        if "Exchange SinglePartition" not in p
        else "FAIL: single-partition exchange in edge derivation",
    ]
    sections.append(("Transcript edge derivation (end-to-end)", p, checks))

    # 7. Adamic–Adar top-k: the global cut must be a per-partition heap +
    # driver merge (TakeOrderedAndProject), never a full sort of the pair
    # relation; the degree-filtered pivot relation is small and broadcasts
    q = entry.queries()["link_predict_copurchase"](spark, SF_DIR)
    p = fmt(q)
    checks = [
        "top-k via TakeOrderedAndProject (per-partition heap, no global sort)"
        if "TakeOrderedAndProject" in p
        else "FAIL: top-k planned as a global Sort",
        f"BroadcastHashJoin ×{p.count('BroadcastHashJoin')} (degree/pivot sides broadcast)"
        if p.count("BroadcastHashJoin") >= 1
        else "note: no broadcast joins at this sf (fine if sides grow past threshold)",
        "map-side partial aggregation present" if "partial_" in p else "FAIL: no partial aggregation",
    ]
    sections.append(("Adamic–Adar link prediction (degree-guarded wedge join + top-k)", p, checks))

    # 8. TF-IDF: the document-frequency relation is vocabulary-sized and must
    # broadcast into the score join; both aggregations partial/combine
    q = entry.queries()["tfidf_docs"](spark, SF_DIR)
    p = fmt(q)
    checks = [
        "DF relation broadcasts into the score join (BroadcastHashJoin)"
        if "BroadcastHashJoin" in p
        else "FAIL: DF join shuffles the term relation",
        "map-side partial aggregation present" if "partial_" in p else "FAIL: no partial aggregation",
    ]
    sections.append(("TF-IDF top-k keyword extraction", p, checks))

    # 9. random-walk superstep: the per-walk argmin must be a map-side
    # combinable min(struct(h, vid)) — hub fan-out collapses to one
    # combiner entry per map partition — with no single-partition exchange
    from elektra_spark.operators.walks import _step_hash

    both = e.select("src", "dst").union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    cur = both.select(F.col("src").alias("walk_id"), F.col("src").alias("vid")).distinct().limit(64)
    cand = both.join(cur.withColumnRenamed("vid", "src"), "src").select(
        "walk_id", F.col("dst").alias("vid"), _step_hash(F.col("walk_id"), 1, F.col("dst")).alias("h")
    )
    step = cand.groupBy("walk_id").agg(F.min(F.struct("h", "vid")).alias("w"))
    p = fmt(step)
    checks = [
        "map-side partial min over (h, vid) structs" if "partial_min" in p else "FAIL: no partial min",
        "walk superstep free of Exchange SinglePartition"
        if "Exchange SinglePartition" not in p
        else "FAIL: single-partition exchange in the walk superstep",
    ]
    sections.append(("Random-walk superstep (frontier join + combinable argmin)", p, checks))

    # 10. corpus sampling: the Bernoulli thinning must stay a map-side
    # filter fused into the scan (zero exchanges), and the stratified quota
    # must shuffle exactly once (on the stratum column, for its rank window)
    from elektra_spark.text.sampling import hash_sample, stratified_quota_sample

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "lang")
    p = fmt(hash_sample(docs, "doc_id", 0.5))
    checks = [
        "hash_sample plan has zero exchanges (pure map-side filter on the scan)"
        if "Exchange" not in p
        else "FAIL: hash_sample shuffles",
        f"filter runs inside WholeStageCodegen" if re.search(r"codegen id", p) else "note: no codegen span printed",
    ]
    sections.append(("Corpus hash-Bernoulli sample (zero-shuffle thinning)", p, checks))

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    p = fmt(stratified_quota_sample(hash_sample(docs, "doc_id", 0.5), "lang", 30, "doc_id"))
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    strat_ex = re.findall(r"hashpartitioning\(([a-z_]+)", p)
    checks = [
        f"stratified quota shuffles exactly once, on the stratum column ({strat_ex})"
        if strat_ex == ["lang"]
        else f"FAIL: unexpected exchanges {strat_ex}",
        "no Exchange SinglePartition (per-stratum windows stay parallel)"
        if "Exchange SinglePartition" not in p
        else "FAIL: single-partition exchange in the quota window",
        "Partial WindowGroupLimit before the exchange (map-side quota pre-prune: "
        "only ≤ quota rows per stratum per map partition are shuffled)"
        if re.search(r"row_number\(\), 30, Partial", p)
        else "note: no map-side rank-limit pushdown in this plan",
    ]
    sections.append(("Stratified quota sample (one shuffle on the stratum)", p, checks))

    # 11. Brandes forward superstep: sigma accumulation must be a map-side
    # combinable sum keyed by (source, vid) — hub fan-in collapses per map
    # partition — with the per-source visited anti-join and no
    # single-partition exchange
    frontier = spark.createDataFrame([(i, i, 1.0) for i in range(64)], "s long, vid long, sigma double")
    visited = frontier.select("s", "vid")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    nxt = (
        both.join(frontier.withColumnRenamed("vid", "src"), "src")
        .groupBy("s", F.col("dst").alias("vid"))
        .agg(F.sum("sigma").alias("sigma"))
        .join(visited, ["s", "vid"], "left_anti")
    )
    p = fmt(nxt)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    checks = [
        "map-side partial sigma sum present" if "partial_sum" in p else "FAIL: no partial aggregation",
        "superstep free of Exchange SinglePartition"
        if "Exchange SinglePartition" not in p
        else "FAIL: single-partition exchange in the Brandes superstep",
    ]
    sections.append(("Brandes betweenness forward superstep (combinable sigma + visited anti-join)", p, checks))

    # 12. repeated n-grams: the count-distinct rewrite must stay a two-phase
    # partial aggregation keyed on the n-gram (map-side combine collapses
    # per-partition repeats before the exchange), with no single-partition
    # funnel anywhere
    from elektra_spark.dedup.ngram import repeated_ngrams

    docs_df = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    p = fmt(repeated_ngrams(docs_df, n=3, min_docs=2))
    checks = [
        "map-side partial aggregation present" if "partial_count" in p or "partial_sum" in p
        else "FAIL: no partial aggregation on the n-gram key",
        "no single-partition exchange" if "Exchange SinglePartition" not in p
        else "FAIL: single-partition exchange in the n-gram aggregation",
        "generate (explode) runs pre-shuffle, inside the scan stage"
        if "Generate" in p else "FAIL: no Generate node (explode missing?)",
    ]
    sections.append(("Repeated n-grams (explode + combinable distinct-count)", p, checks))

    # 13. decontamination: the eval n-gram set must reach the corpus side as
    # a BROADCAST semi-join — the corpus relation never shuffles to meet it
    from elektra_spark.dedup.ngram import decontaminate

    ev_df = docs_df.filter(F.col("doc_id") % 25 == 0)
    p = fmt(decontaminate(docs_df, ev_df, n=3))
    checks = [
        "eval n-gram set broadcast (BroadcastHashJoin LeftSemi)"
        if re.search(r"BroadcastHashJoin.*LeftSemi", p) or ("BroadcastHashJoin" in p and "LeftSemi" in p)
        else "FAIL: eval-set membership probe not broadcast",
        "no single-partition exchange" if "Exchange SinglePartition" not in p
        else "FAIL: single-partition exchange in decontamination",
    ]
    sections.append(("Benchmark decontamination (broadcast eval-set semi-join)", p, checks))

    # 14. partition advisor: the whole (strategy × P) grid must fold into ONE
    # aggregate over the edge table — a union-of-aggregates would re-scan it
    # once per grid cell
    from elektra_spark.operators.partition_advisor import edge_cut_advisor

    # plain edge relation isolates the advisor's own shape (g.edges carries
    # the derivation's Union/windows and would confound the counts)
    plain_edges = spark.range(20000).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    p = fmt(edge_cut_advisor(plain_edges, 20001, [8, 32, 128]))
    # count operator-detail headers only — the formatted output repeats every
    # node once in the tree and once in the detail listing
    n_aggs = len(re.findall(r"^\(\d+\) HashAggregate", p, re.M))
    checks = [
        f"one aggregate pair over the edges (HashAggregate ×{n_aggs}, no Union)"
        if "Union" not in p and n_aggs <= 2
        else f"FAIL: grid not folded (Union present or HashAggregate ×{n_aggs})",
        "single-partition exchange only for the 1-row final agg"
        if p.count("Exchange SinglePartition") <= 1
        else "FAIL: multiple single-partition exchanges",
    ]
    sections.append(("Partition advisor (whole grid in one edge-table scan)", p, checks))

    # 15. sequence packing: the global token prefix sum must be the two-level
    # scan — pid-partitioned window, never Window over one partition
    from elektra_spark.text.packing import pack_sequences

    p = fmt(pack_sequences(docs_df, context_len=512))
    checks = [
        "window partitioned by pid (parallel running sums, no single-partition window)"
        if "Exchange SinglePartition" not in p
        else "FAIL: single-partition exchange in the packing prefix sum",
        "partition bases broadcast back (BroadcastHashJoin)"
        if "BroadcastHashJoin" in p
        else "note: bases joined non-broadcast (fine only at toy scale)",
    ]
    sections.append(("Sequence packing (hierarchical exact prefix sum)", p, checks))

    # 16. count-min sketch: tiny sketch broadcast back for estimates; both
    # aggregations map-side combinable; the token explode stays pre-shuffle
    from elektra_spark.text.cms import token_cms

    p = fmt(token_cms(docs_df, width=64))
    checks = [
        "sketch broadcast into the estimate join (BroadcastHashJoin)"
        if "BroadcastHashJoin" in p
        else "FAIL: sketch not broadcast",
        "map-side partial aggregation present"
        if "partial_count" in p or "partial_sum" in p or "partial_min" in p
        else "FAIL: no partial aggregation",
        "Generate (token explode) runs inside the scan stage" if "Generate" in p
        else "FAIL: no Generate node",
    ]
    sections.append(("Count-min sketch (broadcast sketch + combinable aggs)", p, checks))

    # 17. weighted MSF winner stage: ONE range exchange feeds the vectorized
    # per-partition Boruvka; no join, no second shuffle — the recombine runs
    # on the O(V) winner union, off this plan
    from elektra_spark.operators.forest import _msf_kernel

    ew = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        F.col("l_orderkey").alias("src"), F.col("l_partkey").alias("dst")
    ).dropDuplicates(["src", "dst"]).select(
        "src", "dst",
        F.conv(F.substring(F.md5(F.concat_ws(":", F.lit("w"), "src", "dst")), 1, 12), 16, 10)
        .cast("long").alias("w"),
    )
    p = fmt(ew.repartitionByRange(8, "src").mapInPandas(_msf_kernel, "src long, dst long, w long"))
    checks = [
        # the input-canonicalization dropDuplicates adds its own hash
        # exchange upstream; the operator itself contributes exactly the one
        # range exchange that feeds the winner kernel
        "single range exchange (on src) feeds the winner kernel"
        if p.count("rangepartitioning") == 1
        else "FAIL: expected exactly one range exchange",
        "Arrow-batched kernel (MapInPandas), not row-at-a-time Python"
        if "MapInPandas" in p else "FAIL: no MapInPandas node",
    ]
    sections.append(("Weighted MSF winner stage (one range exchange + Arrow Boruvka)", p, checks))

    # 18. boilerplate strip: the distinct-doc frequency must be the two-phase
    # dropDuplicates+count form — NO Expand node (the planner's generic
    # count-distinct rewrite multiplies the line relation) — and reassembly
    # adds exactly one doc_id exchange on top of the frequency join
    from elektra_spark.dedup.lines import strip_boilerplate

    lines_df = docs_df.select(
        F.col("doc_id"), F.lit(0).alias("line_idx"), F.col("text").alias("line")
    )
    p = fmt(strip_boilerplate(lines_df, min_docs=3))
    checks = [
        "no Expand node (count-distinct expressed as dedup + combinable count)"
        if "Expand" not in p
        else "FAIL: planner chose the Expand count-distinct rewrite",
        "map-side partial aggregation present"
        if "partial_count" in p or "partial_sum" in p
        else "FAIL: no partial aggregation on the line hash",
        "no single-partition exchange" if "Exchange SinglePartition" not in p
        else "FAIL: single-partition exchange in boilerplate strip",
    ]
    sections.append(("Boilerplate line strip (two-phase distinct-doc frequency)", p, checks))

    # 19. motif census: both triad counts reuse ONE wedge join keyed on the
    # shared middle vertex; closers arrive as semi-joins; scalar folds are
    # the only single-partition exchanges (1-row frames)
    from elektra_spark.operators.motifs import motif_census

    arcs = spark.range(5000).select(F.col("id").alias("src"), ((F.col("id") * 7 + 3) % 5000).alias("dst"))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    p = fmt(motif_census(arcs))
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    n_semi = len(re.findall(r"LeftSemi", p))
    checks = [
        f"closing probes are semi-joins (LeftSemi ×{n_semi})" if n_semi >= 3
        else f"FAIL: expected ≥3 semi-joins, saw {n_semi}",
        "single-partition exchanges only for the 1-row scalar folds"
        if p.count("Exchange SinglePartition") <= 5
        else "FAIL: unexpected single-partition exchange volume",
    ]
    sections.append(("Directed motif census (shared wedge join + semi-join closers)", p, checks))

    # 20. Euler-tour taller-parent search: all 33 height-level carry columns
    # per direction must share ONE window pass (two Window subtrees total,
    # one per direction) and the plan must contain NO join — the naive
    # nearest-taller formulation is a quadratic self-join; the carry-column
    # form is a fixed number of expressions over two sorts
    from elektra_spark.operators.euler import euler_tour, find_taller_parents

    forest = spark.range(1, 400).select(
        ((F.col("id") * 13 + 5) % F.col("id")).alias("src"), F.col("id").alias("dst")
    )
    tour = euler_tour(forest)  # ranking runs eagerly; the result is a
    # checkpoint-truncated relation, so the parents plan audits in isolation
    p = fmt(find_taller_parents(tour))
    # the live plan is everything above the first InMemoryRelation — below
    # it sits the ranking's already-materialized (persisted) lineage
    live = p.split("InMemoryRelation", 1)[0]
    n_win = len(re.findall(r"\bWindow\b", live))
    checks = [
        f"both directions share one window pass each (Window ×{n_win} ≤ 4)"
        if 0 < n_win <= 4
        else f"FAIL: expected ≤4 Window nodes, saw {n_win}",
        "no self-join above the materialized tour (carry columns, not the "
        "quadratic nearest-taller join)"
        if "Join" not in live
        else "FAIL: parents plan contains a join",
    ]
    sections.append(("Euler-tour taller parents (per-level carry columns)", p, checks))

    # k-means assignment: with broadcast centroid literals, assigning the
    # full table must be ONE narrow map over the scan — no exchange at all
    from elektra_spark.sim.kmeans import _assign, lloyd_centroids, quantize_vectors

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = lloyd_centroids(emb, k=4, iters=1)
    p = fmt(_assign(quantize_vectors(emb), cents))
    live = p.split("== Physical Plan ==")[-1]
    checks = [
        "assignment is map-side only: zero Exchange nodes (centroids are literals)"
        if "Exchange" not in live
        else "FAIL: k-means assignment plan shuffles",
        "single parquet scan feeds the distance argmin"
        if len(re.findall(r"\(\d+\) Scan parquet", live)) == 1
        else "FAIL: assignment re-scans the table",
    ]
    sections.append(("k-means assignment (broadcast centroid literals)", p, checks))

    # PPJoin prefix filter: the vocabulary-frequency relation must broadcast
    # (never shuffle the exploded big side against it)
    from elektra_spark.dedup.ppjoin import similarity_join

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    p = fmt(similarity_join(docs, tau_permille=100))
    live = p.split("== Physical Plan ==")[-1]
    n_bc = len(re.findall(r"BroadcastHashJoin", live))
    checks = [
        f"token-frequency relation broadcasts (BroadcastHashJoin ×{n_bc} ≥ 1)"
        if n_bc >= 1
        else "FAIL: frequency join shuffles the exploded side",
    ]
    sections.append(("PPJoin similarity join (prefix filter)", p, checks))

    # BM25 ranking: the global rank must be the hierarchical prefix count —
    # every Window in the plan is partitioned (no single-partition sort)
    from elektra_spark.text.bm25 import bm25_scores

    p = fmt(bm25_scores(docs, ["hash", "join"]))
    live = p.split("== Physical Plan ==")[-1]
    bad_win = re.search(r"Exchange SinglePartition", live)
    checks = [
        "no single-partition exchange: rank rides the range-partitioned prefix count"
        if not bad_win
        else "FAIL: bm25 rank collapses to one partition",
    ]
    sections.append(("BM25 ranking (hierarchical prefix count)", p, checks))

    with open("PLANS.md", "w") as f:
        f.write("# Physical plan audit (generated by tools/audit_plans.py)\n")
        f.write("\nProperties asserted for 100 TB readiness; regenerate after planner-affecting changes.\n")
        for title, plan, checks in sections:
            f.write(f"\n## {title}\n\n")
            for c in checks:
                f.write(f"- {'✅' if not c.startswith('FAIL') else '❌'} {c}\n")
            f.write("\n```\n" + plan.strip()[:4000] + "\n```\n")
    bad = [c for _, _, cs in sections for c in cs if c.startswith("FAIL")]
    print("PLANS.md written;", "ALL OK" if not bad else f"FAILURES: {bad}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
