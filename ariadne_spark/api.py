"""Query surface — the MCP-tool analogs over the engine's output tables.

The reference exposes its call graph through two MCP tools plus getters:
`list_entrypoints` (entry points sorted by transitive callee count,
`mcp/src/tools/core/list_entrypoints.ts:51-87,251-285`),
`show_call_graph_neighborhood` (BFS callers/callees to a depth,
`mcp/src/tools/core/show_call_graph_neighborhood.ts:9-44`), and
`get_stats` (`core/src/project/project.ts:473-479`).

Spatial analogs over (images, knn_edges, pip, tiles):
- `list_orphans` — images never referenced as a kNN destination (the
  entry-point anti-join) ranked by transitive reach (frontier-BFS loop
  with a visited set: Catalyst has no recursion, so the DFS+cycle-guard
  of `list_entrypoints.ts:56-61` becomes an iterate-to-fixpoint loop of
  joins, each iteration one shuffle bounded by the frontier size);
- `neighborhood` — BFS over knn edges from one image, both directions;
- `stats` — table-level counts.

All functions return DataFrames (composable, lazily planned).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def reach_counts(edges: DataFrame, roots: DataFrame, max_depth: int = 10) -> DataFrame:
    """(root, n_reachable): transitive destinations reachable from each
    root via src->dst edges within max_depth hops, cycle-safe.

    ≅ `count_tree_size` (`list_entrypoints.ts:51-87`): DFS with a cycle
    set becomes level-synchronous BFS — `visited` is the accumulated
    distinct (root, node) set; each iteration joins the frontier to the
    edge table and anti-joins the visited set. Converges in <= max_depth
    iterations or when a frontier empties.
    """
    e = edges.select(
        F.col("src_image_id").alias("node"), F.col("dst_image_id").alias("next")
    ).persist()
    frontier = roots.select(
        F.col("image_id").alias("root"), F.col("image_id").alias("node")
    ).localCheckpoint()
    visited = frontier
    for _ in range(max_depth):
        # localCheckpoint truncates lineage each iteration — without it
        # the logical plan doubles per hop and analysis time, not the
        # data, becomes the bottleneck (same reason ariadne guards DFS
        # with a cycle set: bounded work per step)
        nxt = (
            frontier.join(e, "node")
            .select("root", F.col("next").alias("node"))
            .distinct()
            .join(visited, ["root", "node"], "left_anti")
            .localCheckpoint()
        )
        if nxt.isEmpty():
            break
        visited = visited.unionByName(nxt).localCheckpoint()
        frontier = nxt
    e.unpersist()
    # exclude the root itself from its reach count
    return (
        visited.where(F.col("root") != F.col("node"))
        .groupBy("root")
        .agg(F.count("*").alias("n_reachable"))
        .join(roots.select(F.col("image_id").alias("root")), "root", "right")
        .fillna(0, ["n_reachable"])
    )


PR_UNIT = 10**12  # pico-probability: every rank is an integer share of this


def pagerank(
    edges: DataFrame,
    n_iters: int = 10,
    damping_micro: int = 850_000,
    src_col: str = "src_image_id",
    dst_col: str = "dst_image_id",
) -> DataFrame:
    """Integer PageRank over the src->dst edge set: (node, rank_pp)
    with rank_pp the node's stationary-probability share in picos
    (sums to ~PR_UNIT, short only by floor dust). The centrality
    complement of the graph family (reach_counts BFS, dup_clusters
    components, J12 dependents) — "which images anchor the near-dup
    graph", the signal canonical selection and curation triage rank by.

    ALL arithmetic is floor-integer with a fixed law (shared verbatim
    with the python oracle in tests):

      out     = (p * damping_micro) // 10^6
      share   = out // outdeg          (per out-edge)
      dangling nodes pool their `out` and split it // N
      base    = (PR_UNIT * (10^6 - damping_micro)) // 10^6 // N
      p'      = base + dangling_share + sum(incoming shares)

    so ranks are bit-identical across runs, partitionings, and cluster
    sizes (integer sums are order-independent; no float ever appears).

    SCALE: per iteration one equi-join p⋈edges on src + one hash agg
    on dst + one anti-join for the dangling pool — all linear in |E|
    with map-side partial aggregation; the only driver values are two
    scalars (N once, the dangling total per iteration). localCheckpoint
    per iteration truncates the plan exactly like reach_counts.

    Reference analog: ariadne's most-referenced-symbol ranking over the
    call graph (`mcp/src/tools/core/list_entrypoints.ts:51-87` sizes
    trees; centrality is the stationary version of that count).
    """
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).persist()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    assert n > 0, "pagerank needs at least one edge"
    outdeg = e.groupBy("src").agg(F.count("*").alias("outdeg"))
    base = (PR_UNIT * (10**6 - damping_micro)) // 10**6 // n
    p = nodes.select("node", F.lit(PR_UNIT // n).cast("long").alias("p"))
    p = p.localCheckpoint()
    for _ in range(n_iters):
        # SQL `div` is true bigint division — exact at any magnitude
        # (the (a - a%b)/b float trick is only exact below 2^53, which
        # p * damping_micro exceeds for any node holding >~0.1% mass)
        out = p.select(
            "node",
            F.expr(f"p * {int(damping_micro)}L div 1000000L").cast("long").alias("out"),
        )
        withdeg = out.join(outdeg, out["node"] == outdeg["src"], "left").select(
            out["node"], "out", F.coalesce("outdeg", F.lit(0)).alias("outdeg")
        )
        dangling = (
            withdeg.where(F.col("outdeg") == 0)
            .agg(F.sum("out"))
            .collect()[0][0]
            or 0
        )
        dshare = int(dangling) // n
        share = (
            withdeg.where(F.col("outdeg") > 0)
            .select(
                "node",
                F.expr("out div outdeg").cast("long").alias("share"),
            )
        )
        inflow = (
            e.join(share, e["src"] == share["node"])
            .groupBy("dst")
            .agg(F.sum("share").cast("long").alias("inflow"))
        )
        p = (
            nodes.join(inflow, nodes["node"] == inflow["dst"], "left")
            .select(
                "node",
                (
                    F.lit(base + dshare) + F.coalesce("inflow", F.lit(0))
                ).cast("long").alias("p"),
            )
            .localCheckpoint()
        )
    e.unpersist()
    return p.select("node", F.col("p").alias("rank_pp"))


def list_orphans(
    images: DataFrame,
    edges: DataFrame,
    max_depth: int = 10,
    with_reach: bool = True,
    exclude_holdout: bool = False,
    exclude_framework: bool = False,
) -> DataFrame:
    """Images never linked as a kNN destination, ranked by transitive
    reach desc (≅ entry points sorted by tree size,
    `trace_call_graph.ts:102-136` + `list_entrypoints.ts:281`).

    `exclude_holdout` drops images whose caption matches their format's
    holdout marker (the per-language test-file detector analog,
    `project/detect_test_file.ts:21` — requires caption+fmt columns);
    `exclude_framework` drops round image ids (the dunder entry-point
    filter analog, `trace_call_graph/filter_entry_points.ts:46-58`)."""
    from .functions import filters

    base = images
    if exclude_holdout:
        base = base.where(
            ~filters.is_holdout(
                F.col("caption"), F.col("fmt"), filters.HOLDOUT_CAPTION_MARKERS
            )
        )
    if exclude_framework:
        base = base.where(~filters.is_framework_entry(F.col("image_id")))
    referenced = edges.select(F.col("dst_image_id").alias("image_id")).distinct()
    orphans = base.select("image_id").join(referenced, "image_id", "left_anti")
    if not with_reach:
        return orphans
    counts = reach_counts(edges, orphans, max_depth)
    return (
        orphans.join(counts.withColumnRenamed("root", "image_id"), "image_id", "left")
        .fillna(0, ["n_reachable"])
        .orderBy(F.desc("n_reachable"), "image_id")
    )


def neighborhood(
    edges: DataFrame, image_id: str, depth: int = 2, direction: str = "both"
) -> DataFrame:
    """(image_id, min_depth, direction) for every node within `depth`
    hops of the focus node. direction in {'out', 'in', 'both'} —
    callees / callers / union (≅ `show_call_graph_neighborhood`)."""
    assert direction in ("out", "in", "both")
    spark = edges.sparkSession
    out_e = edges.select(F.col("src_image_id").alias("a"), F.col("dst_image_id").alias("b"))
    in_e = edges.select(F.col("dst_image_id").alias("a"), F.col("src_image_id").alias("b"))
    parts = []
    for dname, e in (("out", out_e), ("in", in_e)):
        if direction not in (dname, "both"):
            continue
        frontier = spark.createDataFrame(
            pa.table({"node": pa.array([image_id], pa.string())})
        )
        visited = frontier.withColumn("min_depth", F.lit(0))
        for d in range(1, depth + 1):
            frontier = (
                frontier.join(e, frontier.node == e.a)
                .select(F.col("b").alias("node"))
                .distinct()
                .join(visited.select("node"), "node", "left_anti")
            ).localCheckpoint()
            if frontier.isEmpty():
                break
            visited = visited.unionByName(
                frontier.withColumn("min_depth", F.lit(d))
            ).localCheckpoint()
        parts.append(
            visited.where(F.col("node") != image_id).withColumn("direction", F.lit(dname))
        )
    result = parts[0]
    for p in parts[1:]:
        result = result.unionByName(p)
    return result.select(F.col("node").alias("image_id"), "min_depth", "direction")


def lineage_report(store) -> "DataFrame":
    """Per-stage timing/volume aggregates from the lineage log — the
    profiler analog (`packages/core/src/profiling/profiler.ts:22-90`:
    per-label total/count/min/max plus per-file breakdown becomes
    per-stage total/count/min/max over partition rows)."""
    import pandas as pd

    rows = [r for r in store.lineage() if r["partition"] != "*"]
    spark = store.spark
    if not rows:
        return spark.createDataFrame(
            pa.schema([
                ("stage", pa.string()), ("n_partitions", pa.int64()),
                ("n_rows", pa.int64()), ("wall_ms_min", pa.float64()),
                ("wall_ms_max", pa.float64()), ("wall_ms_total", pa.float64()),
            ]).empty_table()
        )
    pdf = pd.DataFrame(rows)
    agg = (
        pdf.groupby("stage")
        .agg(
            n_partitions=("partition", "count"),
            n_rows=("n_rows", "sum"),
            wall_ms_min=("wall_ms", "min"),
            wall_ms_max=("wall_ms", "max"),
            wall_ms_total=("wall_ms", "sum"),
        )
        .reset_index()
    )
    return spark.createDataFrame(agg)


def record_query(store, tool: str) -> None:
    """Append one tool-invocation row to the store's query log — the
    MCP analytics recorder (`packages/mcp/src/analytics/query_stats.ts`
    records per-tool calls as they dispatch through the registry,
    `mcp/src/tools/tool_registry.ts:68+`)."""
    import json
    import time

    with open(f"{store.root}/query_log.jsonl", "a") as fh:
        fh.write(json.dumps({"tool": tool, "ts": time.time()}) + "\n")


def query_stats(store) -> DataFrame:
    """(tool, n_calls) per recorded tool, call-count desc — the A6
    query-stats analytics (`mcp/src/analytics/query_stats.ts`)."""
    import json
    import os

    path = f"{store.root}/query_log.jsonl"
    tools = []
    if os.path.exists(path):
        with open(path) as fh:
            tools = [json.loads(line)["tool"] for line in fh if line.strip()]
    df = store.spark.createDataFrame(pa.table({"tool": pa.array(tools, pa.string())}))
    return (
        df.groupBy("tool")
        .agg(F.count("*").alias("n_calls"))
        .orderBy(F.desc("n_calls"), "tool")
    )


# ---------------------------------------------------------------------------
# report edge — formatted tree text + fuzzy ref matching (the "tool"
# layer the reference renders on top of the engine results)
# ---------------------------------------------------------------------------


def ids_match(ref: str, image_id: str) -> bool:
    """Fuzzy image-id matching — the `paths_match` suffix-boundary
    analog (`mcp/src/tools/core/show_call_graph_neighborhood.ts:117-134`:
    a ref path matches when the full path ends with it AT a path-segment
    boundary). Here: `ref` matches `image_id` when equal, or when
    `image_id` ends with `ref` at an id boundary — immediately after a
    non-alphanumeric separator or a zero-pad run (so ref '123' matches
    'img_00000123' but NOT 'img_00001123')."""
    if ref == image_id:
        return True
    if not ref or not image_id.endswith(ref):
        return False
    boundary = image_id[: -len(ref)]
    if not boundary:
        return True
    if not boundary[-1].isalnum():
        return True
    # zero-pad boundary: everything between the last separator and the
    # ref must be padding zeros (and the ref itself must not start with
    # one, else '0123' vs '00123' would ambiguously double-match)
    tail = boundary
    for sep in ("_", "-", "/", ":"):
        if sep in tail:
            tail = tail[tail.rindex(sep) + 1 :]
    return tail != "" and set(tail) == {"0"} and not ref.startswith("0")


def find_image(images: DataFrame, ref: str) -> str:
    """Resolve a (possibly fuzzy) ref to exactly one image_id — the
    node-lookup step of `show_call_graph_neighborhood.ts:143+`. Exact
    match wins immediately (one lookup, no scan of candidates needed);
    otherwise candidates are suffix-filtered IN the engine (endswith
    pushes to the scan) and only the tiny candidate set reaches the
    driver for the boundary check. Ambiguity and misses raise with the
    candidate list, mirroring the reference tool's error text."""
    if images.where(F.col("image_id") == ref).limit(1).count() == 1:
        return ref
    import re as _re

    # the boundary predicate runs IN the engine as an rlike SUPERSET of
    # ids_match (char before the ref is a non-alnum separator or a
    # padding zero, or the ref is the whole id) — filtering on bare
    # endswith and then capping at 50 could truncate away the unique
    # boundary match when many non-matching ids merely share the
    # suffix. With the real predicate pushed down, 50 genuine matches
    # is already deeply ambiguous and the error path below reports it
    # either way.
    pat = f"(^|[^A-Za-z0-9]|0){_re.escape(ref)}$"
    cand = [
        r["image_id"]
        for r in images.where(F.col("image_id").rlike(pat))
        .select("image_id")
        # deterministic truncation: an unordered limit returns a
        # partitioning-dependent subset — sorting makes the candidate
        # set, and therefore the outcome, stable.
        .orderBy("image_id")
        .limit(50)
        .collect()
    ]
    # ids_match stays the final authority (e.g. refs starting with '0'
    # never fuzzy-match)
    hits = sorted(i for i in cand if ids_match(ref, i))
    if len(hits) == 1:
        return hits[0]
    if not hits:
        raise KeyError(f"no image matches ref {ref!r}")
    raise KeyError(f"ambiguous ref {ref!r}: {hits[:5]}")


def _tree_lines(items: list[str]) -> list[str]:
    return [
        ("└─ " if i == len(items) - 1 else "├─ ") + s for i, s in enumerate(items)
    ]


def format_orphans(orphans: DataFrame, limit: int = 20) -> str:
    """Render `list_orphans` output as the reference's entry-point tree
    text (≅ `mcp/src/tools/core/list_entrypoints.ts:203-235`: header
    with counts, one branch per entry point sorted by tree size desc,
    signature line per node). Deterministic: sorted by (reach desc,
    image_id)."""
    rows = orphans.orderBy(F.desc("n_reachable"), "image_id").limit(limit).collect()
    total = orphans.count()
    header = f"Orphan images ({min(limit, total)} of {total}, by transitive reach)"
    branches = [
        f"{r['image_id']}  (reach: {int(r['n_reachable'])})" for r in rows
    ]
    return "\n".join([header, *_tree_lines(branches)])


def format_neighborhood(
    nb: DataFrame, focus: str, depth: int | None = None
) -> str:
    """Render a `neighborhood` result as the two-directional tree the
    reference prints (≅ `show_call_graph_neighborhood.ts:9-44` render:
    focus node, then callers ('in') and callees ('out') grouped and
    depth-indented). Deterministic: directions in fixed order, nodes
    sorted by (min_depth, image_id)."""
    rows = nb.collect()
    by_dir: dict[str, list] = {"in": [], "out": []}
    for r in rows:
        by_dir[r["direction"]].append((int(r["min_depth"]), r["image_id"]))
    # the reference's render titles the focus with the requested depth
    # (the tool server passes it through) — without this the parameter
    # was accepted and silently ignored
    lines = [focus if depth is None else f"{focus}  (depth <= {depth})"]
    labels = {"in": "linked-from (callers)", "out": "links-to (callees)"}
    dirs = [d for d in ("in", "out") if by_dir[d]]
    for di, d in enumerate(dirs):
        last_dir = di == len(dirs) - 1
        lines.append(("└─ " if last_dir else "├─ ") + labels[d])
        stem = "   " if last_dir else "│  "
        nodes = sorted(by_dir[d])
        for ni, (dep, nid) in enumerate(nodes):
            tick = "└─ " if ni == len(nodes) - 1 else "├─ "
            lines.append(f"{stem}{tick}{'· ' * (dep - 1)}{nid}  (depth {dep})")
    if len(dirs) == 0:
        lines.append("└─ (no neighbors)")
    return "\n".join(lines)


def stats(
    images: DataFrame,
    pip: DataFrame | None = None,
    edges: DataFrame | None = None,
    tiles: DataFrame | None = None,
) -> DataFrame:
    """Single-row global stats (≅ `get_stats`, `project.ts:473-479`)."""
    out = images.agg(F.count("*").alias("n_images"))
    if pip is not None:
        out = out.crossJoin(
            pip.agg(
                F.count("*").alias("n_pip_assignments"),
                F.countDistinct("region_id").alias("n_regions_hit"),
            )
        )
    if edges is not None:
        out = out.crossJoin(
            edges.agg(
                F.count("*").alias("n_knn_edges"),
                F.countDistinct("src_image_id").alias("n_linked_images"),
            )
        )
    if tiles is not None:
        out = out.crossJoin(tiles.agg(F.count("*").alias("n_tiles")))
    return out


def corpus_card(
    docs: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
    id_col: str = "doc_id",
) -> str:
    """Dataset card (Datasheets for Datasets, Gebru et al. 2021,
    arXiv:1803.09010 §"composition"): one deterministic markdown
    report of the corpus's composition and curation-relevant signals,
    assembled from the engine's own operators — per-language share,
    whitespace-token (curation.ws_token_count, the same expression the
    training-run packer uses) and char volumes, exact-duplicate rate
    (md5), PII incidence (the q48 registry, folded into the
    composition scan), and the Gopher repetition gate rate
    (`id_col` keys that pass). Three aggregation jobs total
    (composition+PII, dedup, gates); every number is integer-exact, so
    two runs over the same corpus emit byte-identical cards
    (snapshot-tested).

    The tool-layer sibling of format_orphans/format_neighborhood
    (≅ ariadne's mcp report renderers, list_entrypoints.ts:203-235) —
    DataFrames in, a human artifact out."""
    from .operators.curation import repetition_stats, ws_token_count
    from .operators.pii import pii_counts

    cnts = pii_counts(F.col(text_col))
    any_pii = sum(cnts.values(), F.lit(0).cast("long")) > 0
    comp = (
        docs.groupBy(lang_col)
        .agg(
            F.count("*").alias("n"),
            F.sum(ws_token_count(text_col)).alias("toks"),
            F.sum(F.length(text_col).cast("long")).alias("chars"),
            F.sum(F.when(any_pii, 1).otherwise(0)).cast("long").alias("pii"),
        )
        .orderBy(F.desc("n"), F.asc(lang_col))
        .collect()
    )
    n_total = sum(r["n"] for r in comp)
    pii = sum(r["pii"] for r in comp)
    dup = docs.groupBy(F.md5(F.col(text_col)).alias("h")).agg(
        F.count("*").alias("c")
    )
    n_dup_extra = dup.agg(
        F.sum(F.col("c") - 1).cast("long").alias("d")
    ).collect()[0]["d"] or 0
    gates = (
        repetition_stats(docs, id_col=id_col, text_col=text_col)
        .agg(F.sum("repetitive").cast("long").alias("rep"))
        .collect()[0]["rep"]
        or 0
    )

    def permille(x):
        return (int(x) * 1000) // n_total if n_total else 0

    lines = [
        "# Dataset card",
        "",
        f"Documents: {n_total}",
        f"Exact-duplicate rows (md5): {int(n_dup_extra)} ({permille(n_dup_extra)} permille)",
        f"Repetitive (Gopher gate): {int(gates)} ({permille(gates)} permille)",
        f"Documents with PII matches: {int(pii)} ({permille(pii)} permille)",
        "",
        "## Composition by language",
        "",
        "| lang | docs | share permille | tokens | chars |",
        "|---|---|---|---|---|",
    ]
    for r in comp:
        lines.append(
            f"| {r[lang_col]} | {r['n']} | {permille(r['n'])} "
            f"| {int(r['toks'])} | {int(r['chars'])} |"
        )
    return "\n".join(lines) + "\n"
