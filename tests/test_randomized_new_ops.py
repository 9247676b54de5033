"""Seeded randomized parity sweeps for the continuation-block
operators (same style as the quality-op sweep): many small random
instances against fresh-Python oracles, so edge shapes no hand-picked
fixture covers (empty docs, hub nodes, singleton strata, colliding
paragraphs) are exercised every run, deterministically."""

import numpy as np
import pytest

from cello_spark.operators.bgp import match_bgp
from cello_spark.operators import dedup as D


def _rand_triples(rng, n_nodes=8, n_edges=18):
    nodes = [f"n{i}" for i in range(n_nodes)]
    preds = ["p", "q", "r"]
    out = set()
    for _ in range(n_edges):
        out.add((
            nodes[rng.integers(n_nodes)],
            preds[rng.integers(len(preds))],
            nodes[rng.integers(n_nodes)],
        ))
    return sorted(out)


def _bgp_oracle(triples, patterns):
    results = set()

    def bind(i, env):
        if i == len(patterns):
            results.add(tuple(sorted(env.items())))
            return
        s, p, o = patterns[i]
        for ts, tp, to in triples:
            e = dict(env)
            ok = True
            for term, val in ((s, ts), (p, tp), (o, to)):
                if term.startswith("?"):
                    v = term[1:]
                    if v in e and e[v] != val:
                        ok = False
                        break
                    e[v] = val
                elif term != val:
                    ok = False
                    break
            if ok:
                bind(i + 1, e)

    bind(0, {})
    return results


def _rand_pattern(rng, triples):
    """Random 2-template BGP sharing one variable, terms drawn from
    the triple alphabet so matches actually occur."""
    t1 = triples[rng.integers(len(triples))]
    t2 = triples[rng.integers(len(triples))]
    # template 1: (?x, pred const, ?y); template 2: (?y, pred const, ?z)
    return [("?x", t1[1], "?y"), ("?y", t2[1], "?z")]


def test_bgp_randomized_vs_bruteforce(spark):
    rng = np.random.default_rng(404)
    for case in range(6):
        triples = _rand_triples(rng)
        pats = _rand_pattern(rng, triples)
        df = spark.createDataFrame(
            triples, "subj string, pred string, obj string"
        )
        got = {
            tuple(sorted(r.asDict().items()))
            for r in match_bgp(df, pats).collect()
        }
        want = _bgp_oracle(triples, pats)
        assert got == want, (case, pats)


def _para_oracle(docs):
    def norm(p):
        return " ".join(p.lower().split())

    first = {}
    for doc_id, text in docs:
        for pos, para in enumerate(text.split("\n")):
            if not para.strip():
                continue
            k = norm(para)
            if k not in first or (doc_id, pos) < first[k]:
                first[k] = (doc_id, pos)
    out = {}
    for doc_id, text in docs:
        paras = [(pos, p) for pos, p in enumerate(text.split("\n")) if p.strip()]
        kept = [p for pos, p in paras if first[norm(p)] == (doc_id, pos)]
        out[doc_id] = (len(paras), len(kept), "\n".join(kept))
    return out


def test_dedup_paragraphs_randomized(spark):
    """Random corpora with a small paragraph vocabulary (forcing heavy
    collisions), empty docs, and whitespace-variant duplicates."""
    rng = np.random.default_rng(405)
    vocab = [
        "alpha beta gamma", "shared boiler plate", "delta five six",
        "  Shared   Boiler  Plate ", "omega", "",
    ]
    for case in range(5):
        docs = []
        for doc_id in range(12):
            k = rng.integers(0, 5)
            paras = [vocab[rng.integers(len(vocab))] for _ in range(k)]
            docs.append((doc_id, "\n".join(paras)))
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            r.doc_id: (r.n_paragraphs, r.n_kept, r.text_deduped)
            for r in D.dedup_paragraphs(df).collect()
        }
        assert got == _para_oracle(docs), case


def test_cross_jaccard_randomized(spark):
    """Random left/right corpora from a tiny token vocabulary vs the
    brute-force cross oracle (heavy shingle collisions)."""
    rng = np.random.default_rng(406)
    words = ["spark", "graph", "join", "scan", "agg"]

    def sh(text, n=3):
        toks = " ".join(text.lower().split()).split()
        if len(toks) < n:
            return {" ".join(toks)} if toks else set()
        return {" ".join(toks[i: i + n]) for i in range(len(toks) - n + 1)}

    for case in range(4):
        mk = lambda i0, m: [
            (
                i0 + i,
                " ".join(words[rng.integers(len(words))] for _ in range(rng.integers(0, 9))),
            )
            for i in range(m)
        ]
        left, right = mk(0, 7), mk(100, 7)
        ldf = spark.createDataFrame(left, "doc_id long, text string")
        rdf = spark.createDataFrame(right, "doc_id long, text string")
        got = {
            (r.a, r.b): r.jaccard
            for r in D.jaccard_pairs_cross(
                ldf, rdf, threshold=0.3, max_shingle_df=None
            ).collect()
        }
        want = {}
        for ia, ta in left:
            for ib, tb in right:
                a, b = sh(ta), sh(tb)
                if not a or not b:
                    continue
                j = len(a & b) / len(a | b)
                if j >= 0.3:
                    want[(ia, ib)] = j
        assert set(got) == set(want), case
        for k_ in want:
            assert abs(got[k_] - want[k_]) < 1e-12


def test_property_chains_randomized(spark):
    """Random rule sets over random multi-relation graphs vs the
    brute-force fixpoint oracle (deep towers force several rounds)."""
    from cello_spark.operators.kgops import infer_property_chains

    rng = np.random.default_rng(407)
    rels = ["is_a", "part_of", "located_in"]
    for case in range(4):
        n = 7
        rows = set()
        # a chain backbone guarantees depth; random chords add breadth
        for i in range(n - 1):
            rows.add((f"v{i}", rels[rng.integers(3)], f"v{i+1}"))
        for _ in range(6):
            rows.add((
                f"v{rng.integers(n)}", rels[rng.integers(3)],
                f"v{rng.integers(n)}",
            ))
        rows = sorted(rows)
        chains = [
            (rels[rng.integers(3)], rels[rng.integers(3)], rels[rng.integers(3)])
            for _ in range(2)
        ]
        df = spark.createDataFrame(rows, "subj string, pred string, obj string")
        got = {
            (r.subj, r.pred, r.obj)
            for r in infer_property_chains(df, chains, max_iter=40).collect()
        }
        # brute-force fixpoint
        allt = set(rows)
        for _ in range(60):
            new = set()
            for r1, r2, out in chains:
                for s, p, o in allt:
                    if p != r1:
                        continue
                    for s2, p2, o2 in allt:
                        if p2 == r2 and s2 == o:
                            cand = (s, out, o2)
                            if cand not in allt:
                                new.add(cand)
            if not new:
                break
            allt |= new
        assert got == allt, (case, chains)


def test_kg_diff_and_degree_randomized(spark):
    from cello_spark.operators.kgops import kg_degree_stats, kg_diff_summary

    rng = np.random.default_rng(408)
    for case in range(4):
        mk = lambda: sorted({
            (f"s{rng.integers(6)}", ["p", "q"][rng.integers(2)], f"o{rng.integers(6)}")
            for _ in range(15)
        })
        old, new = mk(), mk()
        odf = spark.createDataFrame(old, "subj string, pred string, obj string")
        ndf = spark.createDataFrame(new, "subj string, pred string, obj string")
        got = {
            r.pred: (r.n_added, r.n_removed, r.n_unchanged)
            for r in kg_diff_summary(odf, ndf).collect()
        }
        so, sn = set(old), set(new)
        preds = {p for _, p, _ in so | sn}
        want = {}
        for p in preds:
            po = {t for t in so if t[1] == p}
            pn = {t for t in sn if t[1] == p}
            row = (len(pn - po), len(po - pn), len(pn & po))
            if row != (0, 0, 0):
                want[p] = row
        # engine emits rows only for preds with any churn/overlap
        assert {k: v for k, v in got.items()} == want, case

        deg = {r.pred: r.asDict() for r in kg_degree_stats(odf).collect()}
        for p in {x for _, x, _ in so}:
            pt = [t for t in so if t[1] == p]
            outd = {}
            ind = {}
            for s, _, o in pt:
                outd[s] = outd.get(s, 0) + 1
                ind[o] = ind.get(o, 0) + 1
            assert deg[p]["n_triples"] == len(pt)
            assert deg[p]["max_out_degree"] == max(outd.values())
            assert deg[p]["max_in_degree"] == max(ind.values())
            assert deg[p]["n_subjects"] == len(outd)
            assert deg[p]["n_objects"] == len(ind)


# -- corpus ops: randomized-parameter DuckDB parity ------------------------
# (the fixed-parameter versions are oracle-gated in __spark_entry__;
# these sweeps re-derive the SAME SQL with randomized parameters so
# the parity claim covers the parameter space, not one point)

_DUCK_TOKENS = (
    "list_filter(string_split(translate(lower(text), "
    "chr(9)||chr(10)||chr(13), '   '), ' '), t -> t != '')"
)


def _duck_h64(col_sql):
    return f"cast(('0x' || substr(md5({col_sql}), 1, 15)) AS BIGINT)"


def _rand_docs_pdf(rng, n=120, n_sources=5):
    import pandas as pd

    words = ["alpha", "beta", "gamma", "delta", "x", "longish", ""]
    rows = []
    for i in range(n):
        txt = " ".join(
            words[rng.integers(len(words))]
            for _ in range(rng.integers(0, 40))
        )
        rows.append(
            {
                "doc_id": f"d{i:04d}",
                "source": f"s{rng.integers(n_sources)}",
                "text": txt,
            }
        )
    # one giant stratum so the cap sees a hub group
    for i in range(n, n + 60):
        rows.append({"doc_id": f"d{i:04d}", "source": "s0", "text": "alpha"})
    return pd.DataFrame(rows)


def test_cap_per_stratum_randomized_duckdb(spark):
    import duckdb

    from cello_spark.operators.corpus import cap_per_stratum

    rng = np.random.default_rng(411)
    for trial in range(6):
        pdf = _rand_docs_pdf(rng)
        n_max = int(rng.integers(1, 25))
        docs = spark.createDataFrame(pdf)
        got = sorted(
            (r.doc_id, r.source)
            for r in cap_per_stratum(docs, n_max, strata_col="source")
            .select("doc_id", "source")
            .collect()
        )
        con = duckdb.connect()
        con.register("documents", pdf)
        want = sorted(
            map(
                tuple,
                con.execute(
                    f"""
            SELECT doc_id, source FROM (
              SELECT doc_id, source,
                     row_number() OVER (
                       PARTITION BY source
                       ORDER BY {_duck_h64("cast(doc_id AS VARCHAR)")} ASC,
                                doc_id ASC) AS rk
              FROM documents) WHERE rk <= {n_max}
            """
                ).fetchall(),
            )
        )
        assert got == want, (trial, n_max)


def test_temperature_sample_randomized_duckdb(spark):
    import math

    import duckdb

    from pyspark.sql import functions as F

    from cello_spark.operators.corpus import (
        stratified_hash_sample,
        temperature_mixture_rates,
    )

    rng = np.random.default_rng(412)
    for alpha, target in [(0.0, 50), (0.3, 120), (0.5, 200), (1.0, 80)]:
        pdf = _rand_docs_pdf(rng)
        docs = spark.createDataFrame(pdf)
        sizes = {
            r[0]: r[1]
            for r in docs.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        rates = temperature_mixture_rates(
            sizes, alpha=alpha, target_total=target
        )
        rates3 = {s: math.floor(r * 1000) / 1000 for s, r in rates.items()}
        got = sorted(
            (r.doc_id, r.source)
            for r in stratified_hash_sample(docs, rates3, "source")
            .select("doc_id", "source")
            .collect()
        )
        con = duckdb.connect()
        con.register("documents", pdf)
        want = sorted(
            map(
                tuple,
                con.execute(
                    f"""
            WITH sizes AS (
              SELECT source, count(*) AS n FROM documents GROUP BY source
            ), w AS (SELECT source, n, pow(n, {alpha}) AS w FROM sizes),
            z AS (SELECT sum(w) AS z FROM w),
            rates AS (
              SELECT source, n,
                     least(1.0, {target}.0 * (w / z.z) / n) AS rate
              FROM w, z),
            thr AS (
              SELECT source,
                     CAST(floor(rate * 1000) AS BIGINT) * 1000 AS t
              FROM rates)
            SELECT d.doc_id, d.source
            FROM documents d JOIN thr USING (source)
            WHERE {_duck_h64("cast(doc_id AS VARCHAR)")} % 1000000 < t
            """
                ).fetchall(),
            )
        )
        assert got == want, (alpha, target)


def test_chunk_documents_randomized_duckdb(spark):
    import duckdb

    from cello_spark.operators.corpus import chunk_documents

    rng = np.random.default_rng(413)
    for chunk, overlap in [(8, 0), (8, 4), (16, 15), (12, 3), (5, 1)]:
        pdf = _rand_docs_pdf(rng, n=60)
        stride = chunk - overlap
        docs = spark.createDataFrame(pdf)
        got = sorted(
            map(
                tuple,
                chunk_documents(
                    docs, chunk_tokens=chunk, overlap=overlap
                ).collect(),
            )
        )
        con = duckdb.connect()
        con.register("documents", pdf)
        want = sorted(
            map(
                tuple,
                con.execute(
                    f"""
            WITH toks AS (
              SELECT doc_id, {_DUCK_TOKENS} AS t FROM documents
            ), nz AS (
              SELECT doc_id, t, len(t) AS L FROM toks WHERE len(t) > 0
            ), nc AS (
              SELECT doc_id, t, L,
                     1 + CASE WHEN L > {chunk}
                              THEN (L - {chunk} + {stride} - 1) // {stride}
                              ELSE 0 END AS n
              FROM nz
            ), c AS (
              SELECT doc_id, i AS chunk_idx,
                     t[i * {stride} + 1 : i * {stride} + {chunk}] AS chunk
              FROM nc, LATERAL (SELECT unnest(range(0, n)) AS i)
            )
            SELECT doc_id, chunk_idx,
                   array_to_string(chunk, ' ') AS chunk_text,
                   len(chunk) AS n_tokens
            FROM c
            """
                ).fetchall(),
            )
        )
        assert got == want, (chunk, overlap)
