"""Hub-safe per-group ranking and top-k.

Full ranks (kg_negative_samples' per-predicate entity domain,
kg_random_walks' per-node adjacency, per_group_sorted_index) follow one
hub rule, partitioning.sized_sorted_index: a plain row_number window
when the largest group has at most partitioning.HUB_ROWS rows, else
the range-partitioned rank. Top-k caps (capped_per_group and its
callers cap_per_stratum / exact_duplicates) are one row_number window
that Spark limits map-side. These tests pin both halves of the claim:

- semantics unchanged: on a deliberately hub-skewed input (one key
  with ~100x the rows of the others) the outputs are identical to
  the naive single-window formulation computed inline here;
- the plan is hub-safe: a range-partitioned rank partitions every
  row_number window by (__rpid, group), never by the bare group key,
  and a top-k has a `WindowGroupLimit ... Partial` below its one
  group-key Exchange, so no single task receives the whole hub.
"""

from __future__ import annotations

import re

from pyspark.sql import Window, functions as F

from cello_spark import partitioning
from cello_spark.operators.corpus import cap_per_stratum
from cello_spark.operators.dedup import exact_duplicates
from cello_spark.operators.kgops import kg_negative_samples, kg_random_walks
from cello_spark.partitioning import (
    capped_per_group,
    per_group_sorted_index,
    range_sorted_index,
)
from cello_spark.sources.expression import select_hvg

_RN_SPEC = re.compile(r"row_number\(\) windowspecdefinition\(([^)]*)")


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001


def _assert_no_bare_group_window(df):
    """Every row_number window in the executed plan must carry a
    range-partition id in its partition spec."""
    specs = _RN_SPEC.findall(_plan(df))
    assert specs, "expected at least one row_number window in the plan"
    bare = [s for s in specs if "__rpid#" not in s]
    assert not bare, (
        "row_number window partitioned by a bare (hub-able) key:\n" + bare[0]
    )


def _plan_nodes(df):
    """The physical plan (AQE's final plan once executed) as (text,
    parent index) pairs, parents recovered from the tree-drawing
    indentation."""
    nodes, stack = [], []  # stack: (indent, node index)
    for line in _plan(df).split("== Initial Plan ==")[0].splitlines():
        text = line.lstrip(" :|+-")
        indent = len(line) - len(text)
        while stack and stack[-1][0] >= indent:
            stack.pop()
        nodes.append((text, stack[-1][1] if stack else None))
        stack.append((indent, len(nodes) - 1))
    return nodes


def _assert_map_side_top_k(df, group_col):
    """The plan has one row_number window, and on the way down from it
    exactly one Exchange — hash-partitioned by the group key — sits
    above a map-side `WindowGroupLimit ... Partial`."""
    nodes = _plan_nodes(df)
    windows = [
        i for i, (t, _) in enumerate(nodes) if t.startswith("Window [row_number()")
    ]
    assert len(windows) == 1, "expected one row_number window:\n" + _plan(df)
    partials = [
        i for i, (t, _) in enumerate(nodes)
        if t.startswith("WindowGroupLimit") and t.endswith(", Partial")
    ]
    assert len(partials) == 1, "expected one map-side WindowGroupLimit:\n" + _plan(df)
    above, i = [], partials[0]
    while i != windows[0]:
        i = nodes[i][1]
        assert i is not None, "the map-side limit is not below the window"
        above.append(nodes[i][0])
    exchanges = [t for t in above if t.startswith("Exchange")]
    assert len(exchanges) == 1, exchanges
    key = f"Exchange hashpartitioning({group_col}#"
    assert exchanges[0].startswith(key), exchanges


def _hub_triples(spark):
    # 'type' is the hub predicate: 600 distinct objects; the other
    # predicates have 6 each
    rows = [(f"s{i}", "type", f"klass{i}") for i in range(600)]
    for p in ("is_a", "part_of"):
        rows += [(f"s{i}", p, f"o{i % 6}") for i in range(60)]
    return spark.createDataFrame(rows, ["subj", "pred", "obj"])


def test_per_group_sorted_index_matches_naive_window(spark, monkeypatch):
    monkeypatch.setattr(partitioning, "HUB_ROWS", 0)
    df = _hub_triples(spark).select(
        "pred", F.col("obj").alias("ent")
    ).dropDuplicates()
    got = per_group_sorted_index(
        df, ["pred"], ["ent"], idx_col="idx", num_partitions=7,
    )
    naive = df.withColumn(
        "idx",
        F.row_number().over(Window.partitionBy("pred").orderBy("ent")) - 1,
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, naive.collect())
    )
    _assert_no_bare_group_window(got)


def test_per_group_sorted_index_null_group_keys(spark, monkeypatch):
    monkeypatch.setattr(partitioning, "HUB_ROWS", 0)
    # NULL group keys must rank as their own group (window semantics),
    # not be dropped by the offsets join (ADVICE r3: null-unsafe join)
    rows = [(None, f"e{i}") for i in range(9)] + [
        ("p", f"e{i}") for i in range(4)
    ]
    df = spark.createDataFrame(rows, "pred string, ent string")
    got = per_group_sorted_index(
        df, ["pred"], ["ent"], idx_col="idx", num_partitions=5,
    )
    naive = df.withColumn(
        "idx",
        F.row_number().over(Window.partitionBy("pred").orderBy("ent")) - 1,
    )
    assert sorted(
        map(tuple, got.fillna("~null~").collect())
    ) == sorted(map(tuple, naive.fillna("~null~").collect()))


def test_capped_per_group_matches_naive_window(spark):
    rows = [("hub", f"d{i:04d}") for i in range(500)] + [
        ("tiny", f"t{i}") for i in range(5)
    ]
    df = spark.createDataFrame(rows, ["stratum", "doc_id"])
    got = capped_per_group(df, ["stratum"], ["doc_id"], n_max=7)
    naive = (
        df.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("stratum").orderBy("doc_id")
            ),
        )
        .filter(F.col("rk") <= 7)
        .drop("rk")
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, naive.collect())
    )
    _assert_map_side_top_k(got, "stratum")


def test_kg_negative_samples_dehubbed_semantics_and_plan(spark, monkeypatch):
    monkeypatch.setattr(partitioning, "HUB_ROWS", 10)
    t = _hub_triples(spark)
    neg = kg_negative_samples(t, k=2, seed=7)
    # inline naive-domain re-derivation: same md5 draw over the
    # single-window sorted per-pred domain
    dom = (
        t.select("pred", F.col("obj").alias("ent"))
        .dropDuplicates()
        .withColumn(
            "idx",
            F.row_number().over(Window.partitionBy("pred").orderBy("ent")) - 1,
        )
    )
    sizes = dom.groupBy("pred").agg(F.count(F.lit(1)).alias("dom_sz"))
    reqs = (
        t.dropDuplicates()
        .join(sizes, "pred")
        .select(
            "subj",
            "pred",
            "obj",
            F.posexplode(
                F.expr(
                    "transform(sequence(0, 1), i -> "
                    "cast(conv(substring(md5(concat_ws(chr(1), subj, pred, "
                    "obj, '7', cast(i AS string))), 1, 15), 16, 10) "
                    "AS bigint) % dom_sz)"
                )
            ).alias("draw", "idx"),
        )
        .withColumn("idx", F.col("idx").cast("int"))
    )
    naive = (
        reqs.join(dom, ["pred", "idx"])
        .filter(F.col("ent") != F.col("obj"))
        .select(
            F.col("subj").alias("pos_subj"),
            "pred",
            F.col("obj").alias("pos_obj"),
            "draw",
            F.col("subj").alias("neg_subj"),
            F.col("ent").alias("neg_obj"),
        )
        .join(
            t.select(
                F.col("subj").alias("neg_subj"),
                "pred",
                F.col("obj").alias("neg_obj"),
            ),
            ["neg_subj", "pred", "neg_obj"],
            "left_anti",
        )
    )
    assert sorted(map(tuple, neg.collect())) == sorted(
        map(tuple, naive.select(*neg.columns).collect())
    )
    _assert_no_bare_group_window(neg)


def test_kg_random_walks_dehubbed_plan_and_determinism(spark, monkeypatch):
    monkeypatch.setattr(partitioning, "HUB_ROWS", 10)
    # hub node with out-degree 300 + a small chain graph
    rows = [("hub", "linksto", f"n{i}") for i in range(300)]
    rows += [(f"n{i}", "linksto", f"n{i+1}") for i in range(40)]
    t = spark.createDataFrame(rows, ["subj", "pred", "obj"])
    w1 = kg_random_walks(t, walk_len=3, walks_per_node=2, seed=11)
    w2 = kg_random_walks(
        t.repartition(13), walk_len=3, walks_per_node=2, seed=11
    )
    r1 = sorted(map(tuple, w1.collect()))
    assert r1 == sorted(map(tuple, w2.collect()))
    # hub's walks exist and stay within its real neighbor set
    hub_paths = [r for r in r1 if r[0] == "hub"]
    assert len(hub_paths) == 2
    for _, _, path, n_steps in hub_paths:
        hop1 = path.split("->")[1]
        assert hop1.startswith("n")
        assert n_steps >= 1
    _assert_no_bare_group_window(w1)


def test_cap_per_stratum_dehubbed_matches_naive(spark):
    rows = [("bighost.com", f"d{i:05d}") for i in range(400)] + [
        ("small.org", f"s{i}") for i in range(9)
    ]
    docs = spark.createDataFrame(rows, ["source", "doc_id"])
    got = cap_per_stratum(docs, n_max=11)
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
    ).cast("bigint")
    naive = (
        docs.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("source").orderBy(
                    h.asc(), F.col("doc_id").asc()
                )
            ),
        )
        .filter(F.col("rk") <= 11)
        .drop("rk")
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, naive.collect())
    )
    assert got.columns == docs.columns
    _assert_map_side_top_k(got, "source")


def test_per_group_sorted_index_partition_invariance(spark):
    """The emitted rank must be identical for ANY num_partitions —
    the range boundaries are sampled, so this is the determinism claim
    the docstring makes, exercised across degenerate (1) and
    row-exceeding (97) partition counts and random group shapes."""
    import numpy as np

    rng = np.random.default_rng(99)
    rows = [
        (f"g{rng.integers(4)}", f"v{rng.integers(1000):04d}")
        for _ in range(300)
    ]
    df = spark.createDataFrame(
        sorted(set(rows)), ["grp", "val"]
    )
    base = None
    for n_parts in (1, 2, 7, 97):
        got = sorted(
            map(
                tuple,
                range_sorted_index(
                    df, ["grp"], ["val"], idx_col="idx",
                    num_partitions=n_parts,
                ).collect(),
            )
        )
        if base is None:
            base = got
            # ranks are dense 0..n-1 per group
            from collections import defaultdict

            per = defaultdict(list)
            for g, v, i in got:
                per[g].append((v, i))
            for g, pairs in per.items():
                pairs.sort()
                assert [i for _, i in pairs] == list(range(len(pairs))), g
        else:
            assert got == base, n_parts


def test_skew_probe_picks_plain_window_when_even(spark, monkeypatch):
    """The probe: an input with no hub group gets the single
    row_number window (one shuffle, no __rpid machinery) and the exact
    same ranks; a hub input (HUB_ROWS forced low) gets the de-hubbed
    plan. capped_per_group has no probe: one window, same rows."""
    rows = [(f"g{i % 8}", f"v{i:04d}") for i in range(400)]
    df = spark.createDataFrame(rows, ["grp", "val"])
    got = per_group_sorted_index(df, ["grp"], ["val"], idx_col="idx")
    plan = got._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "__rpid" not in plan, "probe should have chosen the plain window"
    naive = df.withColumn(
        "idx",
        F.row_number().over(Window.partitionBy("grp").orderBy("val")) - 1,
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, naive.collect())
    )
    monkeypatch.setattr(partitioning, "HUB_ROWS", 10)
    forced = per_group_sorted_index(df, ["grp"], ["val"], idx_col="idx")
    _assert_no_bare_group_window(forced)
    assert sorted(map(tuple, forced.collect())) == sorted(
        map(tuple, naive.collect())
    )
    capped = capped_per_group(df, ["grp"], ["val"], n_max=3)
    cplan = capped._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "__bkt" not in cplan, "capped_per_group has no salt phase"
    naive_cap = (
        df.withColumn(
            "rk",
            F.row_number().over(Window.partitionBy("grp").orderBy("val")),
        )
        .filter(F.col("rk") <= 3)
        .drop("rk")
    )
    assert sorted(map(tuple, capped.collect())) == sorted(
        map(tuple, naive_cap.collect())
    )


def test_exact_duplicates_hub_cap_is_map_side(spark):
    """A 5,000-member fingerprint group: the max_ids cap is limited
    map-side below the one fingerprint Exchange, and the output holds
    the expected groups — the hub's id-order-first 7 ids plus the
    omitted count, and the two-member 'unique a' group."""
    n = 5_000
    hub = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("same boilerplate page").alias("text"),
    )
    docs2 = hub.unionByName(
        spark.createDataFrame(
            [(n + 1, "unique a"), (n + 2, "unique b"), (n + 3, "unique a")],
            "doc_id long, text string",
        )
    )
    out = exact_duplicates(docs2, max_ids=7)
    _assert_map_side_top_k(out, "fingerprint")
    got = sorted(
        (r.n_dups, r.keep_id, tuple(r.dup_ids), r.n_ids_omitted)
        for r in out.collect()
    )
    assert got == [(2, n + 1, (n + 1, n + 3), 0), (n, 0, tuple(range(7)), n - 7)]


def test_hub_top_k_plans_one_map_side_limited_window(spark):
    """One group 3,000x the others and larger than HUB_ROWS (262,144
    rows, the full-rank hub bound): capped_per_group, cap_per_stratum
    and exact_duplicates still plan one window with a map-side
    WindowGroupLimit below their one group-key Exchange (no salted
    second phase), and select_hvg's total-order top-k is a
    TakeOrderedAndProject."""
    n_hub = 300_000
    hub = spark.range(n_hub).select(
        F.lit("hub").alias("grp"),
        F.col("id").alias("doc_id"),
        F.lit("same boilerplate page").alias("text"),
    )
    small = spark.createDataFrame(
        [(f"s{g}", n_hub + 100 * g + i, f"doc {g} {i}")
         for g in range(5) for i in range(100)],
        "grp string, doc_id long, text string",
    )
    df = hub.unionByName(small)

    capped = capped_per_group(df, ["grp"], ["doc_id"], n_max=20)
    _assert_map_side_top_k(capped, "grp")
    assert capped.count() == 6 * 20

    stratum = cap_per_stratum(df, 20, strata_col="grp")
    _assert_map_side_top_k(stratum, "grp")
    assert stratum.count() == 6 * 20

    dups = exact_duplicates(df, max_ids=20)
    _assert_map_side_top_k(dups, "fingerprint")
    (g,) = dups.collect()
    assert (g.n_dups, g.dup_ids) == (n_hub, list(range(20)))

    long_df = spark.createDataFrame(
        [(f"c{c}", f"g{j:02d}", float((c * 7 + j * 13) % 11))
         for c in range(10) for j in range(40)],
        "sample_id string, gene_id string, value double",
    )
    hvg = _plan(select_hvg(long_df, n_top=5))
    assert "TakeOrderedAndProject(limit=5" in hvg, hvg
    assert "row_number()" not in hvg, hvg
