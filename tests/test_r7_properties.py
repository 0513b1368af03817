"""Independent property tests for the round-8 driver-window queries
(the keys of CORRECTNESS_r08.json; round 7, VERDICT r6 #5: extend the
r6 recompute layer one window ahead, so the r8 cohort's values are
pinned by something other than the twin pair before their driver
window opens).

Same discipline as tests/test_r6_properties.py: each test recomputes
the CLAIMED PROPERTY from the raw parquet with plain pandas/numpy/
hashlib -- no Spark expressions, no DuckDB SQL -- so a conceptual
mistake shared by both twins cannot hide. The Spark query under test
is executed once through the registry (the driver's path) and its
output compared against the recompute.
"""

from __future__ import annotations

import hashlib
import math
import re

import numpy as np
import pandas as pd
import pytest

from etl_building_inspector_spark.plans.registry import QUERIES

from tests.recompute_util import SF  # env-overridable scale


def _run(spark, name):
    return QUERIES[name](spark, SF).toPandas()


def _half_up_cents(x: pd.Series) -> pd.Series:
    # Spark F.round = HALF_UP (away from zero); numpy round is
    # half-even, so spell it out
    v = x * 100.0
    return (np.sign(v) * np.floor(np.abs(v) + 0.5)).astype("int64")


def _py_tokens(text: str) -> list[str]:
    # the engine-wide tokenization contract (functions/text.py):
    # lowercase, non-alphanumeric runs -> space, trim, split. An
    # all-punctuation doc normalizes to "" and split(" ") keeps the
    # one empty token -- same as Spark's F.split on empty string.
    return re.sub(r"[^a-z0-9]+", " ", text.lower()).strip().split(" ")


def _u32(salt: str, key) -> int:
    return int(hashlib.md5(f"{salt}:{key}".encode()).hexdigest()[:8], 16)


# ---------------------------------------------------------------------------
# flagship_enrich: full pandas merge-chain recompute of the anchor
# ---------------------------------------------------------------------------


def test_flagship_enrich_recomputed_with_pandas_merges(spark):
    """The anchor query, recomputed end-to-end: filter lineitem,
    merge orders/customer/nation/region, rebuild every output column.
    revenue is the same IEEE double product of the same raw parquet
    doubles, so it compares EXACTLY, not approximately."""
    got = _run(spark, "flagship_enrich").sort_values(
        ["order_key", "line_number"]
    )
    li = pd.read_parquet(f"{SF}/lineitem.parquet")
    orders = pd.read_parquet(f"{SF}/orders.parquet")
    cust = pd.read_parquet(f"{SF}/customer.parquet")
    nation = pd.read_parquet(f"{SF}/nation.parquet")
    region = pd.read_parquet(f"{SF}/region.parquet")
    li = li[
        (li["l_shipdate"] >= pd.Timestamp("1995-01-01"))
        & (li["l_quantity"] > 30)
    ]
    j = (
        li.merge(orders, left_on="l_orderkey", right_on="o_orderkey")
        .merge(cust, left_on="o_custkey", right_on="c_custkey")
        .merge(nation, left_on="c_nationkey", right_on="n_nationkey")
        .merge(region, left_on="n_regionkey", right_on="r_regionkey")
    )
    want = pd.DataFrame(
        {
            "order_key": j["l_orderkey"].astype("int64"),
            "line_number": j["l_linenumber"].astype("int64"),
            "record_id": "order/"
            + j["l_orderkey"].astype(str)
            + "-"
            + j["l_linenumber"].astype(str),
            "customer_name": j["c_name"],
            "nation": j["n_name"],
            "region": j["r_name"],
            "valid_since": pd.to_datetime(j["o_orderdate"]).dt.year.astype(
                "int64"
            ),
            "revenue": j["l_extendedprice"] * (1 - j["l_discount"]),
            "qty_band": np.where(j["l_quantity"] > 45, "high", "low"),
        }
    ).sort_values(["order_key", "line_number"])
    assert len(got) == len(want)
    for col in want.columns:
        g, w = got[col].to_numpy(), want[col].to_numpy()
        assert (g == w).all(), f"column {col} diverges"


# ---------------------------------------------------------------------------
# surface10: native session windows, nearest as-of
# ---------------------------------------------------------------------------


def test_session_window_native_matches_manual_gap_split(spark):
    """Recompute sessions by walking each user's (ts, event_id)-sorted
    events and splitting where the gap is STRICTLY greater than 30
    minutes (the probed boundary semantics: exactly-at-gap merges)."""
    from etl_building_inspector_spark.plans.queries_surface10 import (
        SESSION_GAP_MIN,
    )

    got = _run(spark, "events_session_window_native")
    ev = pd.read_parquet(f"{SF}/events.parquet")
    gap = pd.Timedelta(minutes=SESSION_GAP_MIN)
    want = {}
    for uid, g in ev.sort_values(["ts", "event_id"]).groupby("user_id"):
        ts = list(g["ts"])
        cents = list(_half_up_cents(g["value"]))
        start = 0
        for i in range(1, len(ts) + 1):
            if i == len(ts) or ts[i] - ts[i - 1] > gap:
                want[(int(uid), ts[start])] = (
                    ts[i - 1] + gap,
                    i - start,
                    int(sum(cents[start:i])),
                )
                start = i
    have = {
        (int(r.user_id), r.session_start): (
            r.session_end,
            int(r.n_events),
            int(r.sum_cents),
        )
        for r in got.itertuples()
    }
    assert have == want


def test_asof_nearest_matches_per_purchase_scan(spark):
    """For every purchase, scan ALL the user's clicks and take the
    true nearest in either direction (earlier click wins ties) -- the
    O(n^2) definition the one-pass window implementation must equal."""
    got = _run(spark, "asof_join_nearest")
    ev = pd.read_parquet(f"{SF}/events.parquet")
    ev = ev[ev["event_type"].isin(["click", "purchase"])]
    want = {}
    for uid, g in ev.groupby("user_id"):
        clicks = g[g["event_type"] == "click"]
        purchases = g[g["event_type"] == "purchase"]
        if clicks.empty:
            continue
        cts = clicks["ts"].astype("int64").to_numpy()  # micros
        cid = clicks["event_id"].to_numpy()
        for p in purchases.itertuples():
            pts = int(pd.Timestamp(p.ts).value // 1000)  # ns -> us
            d = np.abs(cts - pts)
            best = d.min()
            cand = cid[d == best]
            # tie -> the EARLIER click; distinct event ids share a ts
            # only via equal distance both sides, and the earlier one
            # is the one with ts < pts, i.e. the smaller event_id in
            # this data -- resolve exactly as the query does: earlier
            # timestamp wins, so pick the candidate whose ts <= pts
            # if present, else min event_id
            before = [
                c
                for c, t in zip(cid, cts)
                if abs(t - pts) == best and t <= pts
            ]
            pick = int(before[0]) if before else int(cand[0])
            want[int(p.event_id)] = (int(best), pick)
    have = {
        int(r.purchase_id): (int(r.dist_us), int(r.click_id))
        for r in got.itertuples()
    }
    assert set(have) == set(want)
    for k, (d, c) in want.items():
        assert have[k][0] == d, f"purchase {k}: dist {have[k][0]} != {d}"
        assert have[k][1] == c, f"purchase {k}: click {have[k][1]} != {c}"


# ---------------------------------------------------------------------------
# llm18: Heaps growth, radius search, shingle sensitivity, DP audit
# ---------------------------------------------------------------------------


def test_heaps_growth_recounted_from_raw_tokens(spark):
    from etl_building_inspector_spark.plans.queries_llm18 import (
        HEAPS_BUCKETS,
    )

    got = _run(spark, "text_vocab_growth_heaps").sort_values("bucket")
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    n = int(docs["doc_id"].max()) + 1
    vol = [0] * HEAPS_BUCKETS
    first_seen: dict[str, int] = {}
    for r in docs.itertuples():
        b = min(int(r.doc_id) * HEAPS_BUCKETS // n, HEAPS_BUCKETS - 1)
        for t in _py_tokens(r.text):
            vol[b] += 1
            if t not in first_seen or first_seen[t] > b:
                first_seen[t] = b
    new = [0] * HEAPS_BUCKETS
    for b in first_seen.values():
        new[b] += 1
    tok_cum = np.cumsum(vol)
    voc_cum = np.cumsum(new)
    assert list(got["bucket"]) == list(range(HEAPS_BUCKETS))
    assert list(got["tokens_cum"]) == list(tok_cum)
    assert list(got["vocab_cum"]) == list(voc_cum)
    # Heaps sanity: vocab growth is monotone and <= token growth
    assert (np.diff(voc_cum) >= 0).all()
    assert voc_cum[-1] <= tok_cum[-1]


def test_range_search_matches_numpy_bruteforce(spark):
    from etl_building_inspector_spark.plans.queries_llm18 import (
        RANGE_SEARCH_QUERIES,
        RANGE_SEARCH_THRESHOLD,
    )

    got = _run(spark, "ann_range_search")
    emb = pd.read_parquet(f"{SF}/embeddings.parquet")
    M = np.stack(emb["embedding"].to_numpy()).astype("float64")
    ids = emb["vec_id"].to_numpy()
    norms = np.linalg.norm(M, axis=1)
    want = {}
    for qi in range(RANGE_SEARCH_QUERIES):
        qrow = np.where(ids == qi)[0][0]
        cos = (M @ M[qrow]) / (norms * norms[qrow])
        for j in np.where(cos >= RANGE_SEARCH_THRESHOLD)[0]:
            if ids[j] != qi:
                want[(qi, int(ids[j]))] = cos[j]
    have = {
        (int(r.q_id), int(r.vec_id)): float(r.cosine)
        for r in got.itertuples()
    }
    # numpy's dot order differs from the query's sequential fold only
    # in the last ulps -- far from the 0.25 threshold for this data
    assert set(have) == set(want)
    for k in want:
        assert abs(have[k] - want[k]) < 1e-9


def test_shingle_sensitivity_recounted(spark):
    from etl_building_inspector_spark.plans.queries_llm18 import (
        SHINGLE_SIZES,
    )

    got = {
        int(r.shingle_n): (int(r.total_shingles), int(r.distinct_shingles))
        for r in _run(spark, "dedup_shingle_size_sensitivity").itertuples()
    }
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    tok_lists = [_py_tokens(t) for t in docs["text"]]
    for n in SHINGLE_SIZES:
        total, distinct = 0, set()
        for toks in tok_lists:
            if len(toks) < n:
                continue
            total += len(toks) - n + 1
            for i in range(len(toks) - n + 1):
                distinct.add(" ".join(toks[i : i + n]))
        assert got[n] == (total, len(distinct)), f"n={n}"
    # monotonicity across n: larger shingles -> fewer total, and the
    # distinct/total collision headroom can only grow
    ns = sorted(got)
    for a, b in zip(ns, ns[1:]):
        assert got[a][0] >= got[b][0]


def test_histogram_sensitivity_is_max_user_contribution(spark):
    got = _run(spark, "privacy_histogram_sensitivity")
    ev = pd.read_parquet(f"{SF}/events.parquet")
    per = ev.groupby(["event_type", "user_id"]).size()
    for r in got.itertuples():
        g = per[r.event_type]
        assert int(r.n_rows) == int(g.sum())
        assert int(r.n_users) == len(g)
        assert int(r.max_user_contribution) == int(g.max())
    assert set(got["event_type"]) == set(ev["event_type"].unique())


# ---------------------------------------------------------------------------
# llm19: mixture diversity, waterfill, fingerprint eval, KMV
# ---------------------------------------------------------------------------


def test_mixture_diversity_simpson_and_shannon(spark):
    got = _run(spark, "corpus_mixture_diversity").set_index("scope")
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    n = len(docs)
    for scope in ("source", "lang"):
        cnt = docs.groupby(scope).size()
        r = got.loc[scope]
        assert int(r["n_groups"]) == len(cnt)
        assert int(r["simpson_num"]) == int((cnt * (cnt - 1)).sum())
        assert int(r["simpson_den"]) == n * (n - 1)
        # entropy: recompute in the SAME pinned order (cnt, group) to
        # match the fold, then also sanity-check against math.fsum
        ordered = sorted(zip(cnt.to_numpy(), cnt.index))
        acc = 0.0
        for c, _ in ordered:
            p = float(c) / n
            acc += -p * math.log(p)
        assert abs(float(r["shannon_nats"]) - acc) < 1e-12
        assert 0.0 <= acc <= math.log(len(cnt)) + 1e-12


def test_waterfill_allocation_properties(spark):
    """Recompute the waterline by brute force: try every candidate
    line position and verify the query's allocation equals the exact
    waterfill (uncapped sources keep everything, capped sources share
    the remaining budget equally via floor division)."""
    from etl_building_inspector_spark.plans.queries_llm19 import (
        WATERFILL_BUDGET_FRACTION_INV,
    )

    got = _run(spark, "corpus_token_budget_waterfill").sort_values("source")
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    avail = {
        src: sum(len(_py_tokens(t)) for t in g["text"])
        for src, g in docs.groupby("source")
    }
    assert {
        r.source: int(r.avail_tokens) for r in got.itertuples()
    } == avail
    total = sum(avail.values())
    budget = total // WATERFILL_BUDGET_FRACTION_INV
    ranked = sorted(avail.items(), key=lambda kv: (kv[1], kv[0]))
    n_src = len(ranked)
    # walk ascending availability; the first source whose availability
    # exceeds the equal share of the remaining budget marks the line
    istar, prefix_before = None, 0
    prefix = 0
    for i, (src, a) in enumerate(ranked, start=1):
        if a * (n_src - i + 1) > budget - prefix:
            istar, prefix_before = i, prefix
            break
        prefix += a
    alloc = {}
    for i, (src, a) in enumerate(ranked, start=1):
        if istar is None or i < istar:
            alloc[src] = (a, False)
        else:
            alloc[src] = (
                (budget - prefix_before) // (n_src - istar + 1),
                True,
            )
    have = {
        r.source: (int(r.alloc_tokens), bool(r.capped))
        for r in got.itertuples()
    }
    assert have == alloc
    # conservation: allocation never exceeds budget, uncapped keep all
    assert sum(a for a, _ in alloc.values()) <= budget
    for src, (a, capped) in alloc.items():
        assert a <= avail[src]
        if not capped:
            assert a == avail[src]


def test_bytes_vs_norm_dedup_eval_recounted(spark):
    got = _run(spark, "dedup_exact_bytes_vs_norm_eval").iloc[0]
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    texts = list(docs["text"])
    # the planted-duplicate corpus: every doc_id % 5 == 0 re-appears
    # with its last token dropped (queries_llm.py::_docs_with_dups)
    for r in docs.itertuples():
        if r.doc_id % 5 == 0:
            toks = _py_tokens(r.text)
            texts.append(" ".join(toks[:-1]))
    raw = {hashlib.md5(t.encode()).hexdigest() for t in texts}
    norm = {
        hashlib.md5(
            re.sub(r"[^a-z0-9]+", " ", t.lower()).strip().encode()
        ).hexdigest()
        for t in texts
    }
    assert int(got["n_docs"]) == len(texts)
    assert int(got["groups_raw"]) == len(raw)
    assert int(got["groups_norm"]) == len(norm)
    assert int(got["dup_docs_raw"]) == len(texts) - len(raw)
    assert int(got["dup_docs_norm"]) == len(texts) - len(norm)
    assert int(got["missed_by_raw"]) == len(raw) - len(norm)
    # raw-equal implies norm-equal: the normalized partition is coarser
    assert len(norm) <= len(raw)


def test_kmv_estimate_bit_exact_python_reimplementation(spark):
    """Full KMV reimplementation: u32(md5('kmv:'||key)) over the
    distinct keys, k-th smallest, est = (k-1)*2^32 // h_k."""
    from etl_building_inspector_spark.plans.queries_llm19 import (
        KMV_K,
        KMV_U32,
    )

    got = _run(spark, "sketch_bottomk_theta_eval").iloc[0]
    li = pd.read_parquet(f"{SF}/lineitem.parquet")
    keys = li["l_orderkey"].unique()
    hv = sorted({_u32("kmv", int(k)) for k in keys})
    bottom = hv[:KMV_K]
    h_k = max(bottom[-1], 1)
    k = len(bottom)
    est = (k - 1) * KMV_U32 // h_k
    n = len(keys)
    assert int(got["exact_distinct"]) == n
    assert int(got["k"]) == k
    assert int(got["kmv_estimate"]) == est
    assert int(got["err_ppm"]) == abs(est - n) * 1_000_000 // n


# ---------------------------------------------------------------------------
# llm20: coverage, dup census, fertility, cosine histogram
# ---------------------------------------------------------------------------


def test_ngram_coverage_recounted_from_md5_split(spark):
    from etl_building_inspector_spark.plans.queries_llm20 import (
        COVERAGE_SHINGLE_N,
    )

    got = _run(spark, "text_ngram_coverage_vs_reference").iloc[0]
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    train, heldout = set(), set()
    for r in docs.itertuples():
        toks = _py_tokens(r.text)
        sh = {
            " ".join(toks[i : i + COVERAGE_SHINGLE_N])
            for i in range(len(toks) - COVERAGE_SHINGLE_N + 1)
        }
        if _u32("split", int(r.doc_id)) % 100 < 80:
            train |= sh
        else:
            heldout |= sh
    covered = len(heldout & train)
    assert int(got["heldout_ngrams"]) == len(heldout)
    assert int(got["covered_ngrams"]) == covered
    assert int(got["coverage_ppm"]) == covered * 1_000_000 // len(heldout)


def test_dup_group_size_census_recounted(spark):
    got = {
        int(r.group_size): (int(r.n_groups), int(r.n_docs))
        for r in _run(spark, "dedup_group_size_histogram").itertuples()
    }
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    texts = list(docs["text"]) + [
        " ".join(_py_tokens(r.text)[:-1])
        for r in docs.itertuples()
        if r.doc_id % 5 == 0
    ]
    from collections import Counter

    fp = Counter(
        hashlib.md5(
            re.sub(r"[^a-z0-9]+", " ", t.lower()).strip().encode()
        ).hexdigest()
        for t in texts
    )
    sizes = Counter(fp.values())
    want = {sz: (n, sz * n) for sz, n in sizes.items()}
    assert got == want
    # census covers every doc exactly once
    assert sum(v[1] for v in got.values()) == len(texts)


def test_tokenizer_fertility_recomputed_per_lang(spark):
    from etl_building_inspector_spark.functions.text import BPE_PIECE_RE

    got = _run(spark, "text_tokenizer_fertility_by_lang").set_index("lang")
    docs = pd.read_parquet(f"{SF}/documents.parquet")

    def bpe_est(text: str) -> int:
        pieces = re.findall(BPE_PIECE_RE, text.lower())
        return sum(
            (len(p) + 3) // 4 if "a" <= p[0] <= "z" else 1 for p in pieces
        )

    for lang, g in docs.groupby("lang"):
        bpe = sum(bpe_est(t) for t in g["text"])
        words = sum(len(_py_tokens(t)) for t in g["text"])
        r = got.loc[lang]
        assert int(r["n_docs"]) == len(g)
        assert int(r["bpe_tokens"]) == bpe
        assert int(r["ws_words"]) == words
        assert int(r["fertility_ppm"]) == bpe * 1_000_000 // words


def test_cosine_histogram_bitexact_sequential_fold(spark):
    """Recompute each sampled pair's cosine with the SAME left-to-
    right IEEE fold as the engine's F.aggregate (a plain python loop),
    so the floor(cos*10) bucket assignment is bit-identical even at
    bucket boundaries."""
    from etl_building_inspector_spark.plans.queries_llm20 import (
        COSINE_HIST_MOD,
    )

    got = {
        int(r.bucket): int(r.n_pairs)
        for r in _run(spark, "emb_cosine_histogram_sampled").itertuples()
    }
    emb = pd.read_parquet(f"{SF}/embeddings.parquet").sort_values("vec_id")
    vecs = {int(r.vec_id): list(r.embedding) for r in emb.itertuples()}

    def fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += float(x) * float(y)
        return acc

    def fold_norm(a):
        acc = 0.0
        for x in a:
            acc += float(x) * float(x)
        return math.sqrt(acc)

    from collections import Counter

    want: Counter = Counter()
    ids = sorted(vecs)
    for a in ids:
        if a % COSINE_HIST_MOD != 0:
            continue
        for b in ids:
            if b <= a or (a + b) % COSINE_HIST_MOD != 0:
                continue
            cos = fold_dot(vecs[a], vecs[b]) / (
                fold_norm(vecs[a]) * fold_norm(vecs[b])
            )
            want[max(min(math.floor(cos * 10), 9), -10)] += 1
    assert got == dict(want)


# ---------------------------------------------------------------------------
# surface11: repeat-order audit, xcorr ladder, k-anon ladder, latency
# ---------------------------------------------------------------------------


def test_rapid_repeat_orders_matches_n2_scan(spark):
    from etl_building_inspector_spark.plans.queries_surface11 import (
        REPEAT_TOLERANCE_INV,
        REPEAT_WINDOW_DAYS,
    )

    got = {
        (int(r.custkey), int(r.order_a), int(r.order_b)): (
            int(r.cents_a),
            int(r.cents_b),
            int(r.day_gap),
        )
        for r in _run(spark, "dq_rapid_repeat_orders").itertuples()
    }
    orders = pd.read_parquet(f"{SF}/orders.parquet")
    orders["cents"] = _half_up_cents(orders["o_totalprice"])
    orders["day"] = pd.to_datetime(orders["o_orderdate"]).dt.normalize()
    want = {}
    for ck, g in orders.groupby("o_custkey"):
        rows = list(g.itertuples())
        for i, a in enumerate(rows):
            for b in rows:
                if a.o_orderkey >= b.o_orderkey:
                    continue
                gap = abs((b.day - a.day).days)
                if gap > REPEAT_WINDOW_DAYS:
                    continue
                if abs(a.cents - b.cents) * REPEAT_TOLERANCE_INV > a.cents:
                    continue
                want[(int(ck), int(a.o_orderkey), int(b.o_orderkey))] = (
                    int(a.cents),
                    int(b.cents),
                    gap,
                )
    assert got == want
    assert want, "fixture should plant at least one repeat pair"


def test_xcorr_sufficient_stats_recounted(spark):
    from etl_building_inspector_spark.plans.queries_surface11 import (
        XCORR_MAX_LAG,
    )

    got = _run(spark, "timeseries_xcorr_lags").set_index("lag")
    ev = pd.read_parquet(f"{SF}/events.parquet")
    ev = ev[ev["event_type"].isin(["click", "purchase"])]
    units = np.sign(ev["value"]) * np.floor(np.abs(ev["value"]) + 0.5)
    daily = (
        ev.assign(day=ev["ts"].dt.normalize(), u=units.astype("int64"))
        .groupby(["event_type", "day"])["u"]
        .sum()
    )
    p = daily["purchase"]
    c = daily["click"]
    for lag in range(XCORR_MAX_LAG + 1):
        xs, ys = [], []
        for day, y in p.items():
            cday = day - pd.Timedelta(days=lag)
            if cday in c.index:
                xs.append(int(c[cday]))
                ys.append(int(y))
        n = len(xs)
        r = got.loc[lag]
        assert int(r["n_days"]) == n
        sx, sy = sum(xs), sum(ys)
        sxy = sum(a * b for a, b in zip(xs, ys))
        sxx = sum(a * a for a in xs)
        syy = sum(b * b for b in ys)
        assert int(r["corr_num"]) == n * sxy - sx * sy
        assert int(r["corr_den_x"]) == n * sxx - sx * sx
        assert int(r["corr_den_y"]) == n * syy - sy * sy


def test_generalization_ladder_recounted(spark):
    from etl_building_inspector_spark.plans.queries_surface11 import (
        KANON_K,
    )

    got = _run(spark, "privacy_generalization_ladder").set_index("level")
    cust = pd.read_parquet(f"{SF}/customer.parquet")
    nation = pd.read_parquet(f"{SF}/nation.parquet")
    c = cust.merge(nation, left_on="c_nationkey", right_on="n_nationkey")
    levels = {
        "nation+segment": ["n_nationkey", "c_mktsegment"],
        "nation": ["n_nationkey"],
        "region": ["n_regionkey"],
    }
    for name, keys in levels.items():
        sz = c.groupby(keys).size()
        r = got.loc[name]
        assert int(r["n_groups"]) == len(sz)
        assert int(r["min_group_size"]) == int(sz.min())
        assert int(r["n_violating_groups"]) == int((sz < KANON_K).sum())
        assert int(r["n_exposed_rows"]) == int(sz[sz < KANON_K].sum())
    # the ladder direction: coarsening never increases exposure
    assert (
        int(got.loc["region"]["n_exposed_rows"])
        <= int(got.loc["nation"]["n_exposed_rows"])
        <= int(got.loc["nation+segment"]["n_exposed_rows"])
    )


def test_ship_latency_percentiles_are_exact_elements(spark):
    got = _run(spark, "orders_ship_latency_percentiles").set_index("ym")
    li = pd.read_parquet(f"{SF}/lineitem.parquet")
    o = pd.read_parquet(f"{SF}/orders.parquet")
    j = li.merge(o, left_on="l_orderkey", right_on="o_orderkey")
    od = pd.to_datetime(j["o_orderdate"]).dt.normalize()
    sd = pd.to_datetime(j["l_shipdate"]).dt.normalize()
    j = j.assign(
        ym=od.dt.year * 100 + od.dt.month, days=(sd - od).dt.days
    )
    for ym, g in j.groupby("ym"):
        vals = sorted(
            zip(g["days"], g["l_orderkey"], g["l_linenumber"])
        )
        n = len(vals)
        r = got.loc[ym]
        assert int(r["n_lines"]) == n
        assert int(r["p50_days"]) == vals[(n + 1) // 2 - 1][0]
        assert int(r["p90_days"]) == vals[(9 * n + 9) // 10 - 1][0]
        assert int(r["max_days"]) == vals[-1][0]


# ---------------------------------------------------------------------------
# surface12: fixed-point decay, incremental distinct MV
# ---------------------------------------------------------------------------


def test_decayed_value_shift_arithmetic_recounted(spark):
    from etl_building_inspector_spark.plans.queries_surface12 import (
        DECAY_HALF_LIFE_DAYS,
        DECAY_MAX_HALVINGS,
    )

    got = _run(spark, "customer_decayed_value_fixedpoint").set_index(
        "custkey"
    )
    orders = pd.read_parquet(f"{SF}/orders.parquet")
    orders["cents"] = _half_up_cents(orders["o_totalprice"])
    day = pd.to_datetime(orders["o_orderdate"]).dt.normalize()
    today = day.max()
    age = (today - day).dt.days
    shift = np.minimum(
        age // DECAY_HALF_LIFE_DAYS, DECAY_MAX_HALVINGS
    ).astype("int64")
    orders["dec"] = [
        int(c) // (1 << int(s)) for c, s in zip(orders["cents"], shift)
    ]
    for ck, g in orders.groupby("o_custkey"):
        r = got.loc[int(ck)]
        assert int(r["n_orders"]) == len(g)
        assert int(r["raw_cents"]) == int(g["cents"].sum())
        assert int(r["decayed_cents"]) == int(g["dec"].sum())
    assert len(got) == orders["o_custkey"].nunique()
    # decay never amplifies
    assert (got["decayed_cents"] <= got["raw_cents"]).all()


def test_mv_distinct_delta_base_plus_delta_identity(spark):
    from etl_building_inspector_spark.plans.queries_surface12 import (
        MV_DELTA_DAYS,
    )

    got = _run(spark, "mv_distinct_delta_maintenance").set_index(
        "event_type"
    )
    ev = pd.read_parquet(f"{SF}/events.parquet")
    day = ev["ts"].dt.normalize()
    cutoff = day.max() - pd.Timedelta(days=MV_DELTA_DAYS)
    first = (
        ev.assign(day=day)
        .groupby(["event_type", "user_id"])["day"]
        .min()
    )
    for et in first.index.get_level_values(0).unique():
        f = first[et]
        r = got.loc[et]
        assert int(r["mv_distinct_users"]) == len(f)
        assert int(r["delta_new_users"]) == int((f > cutoff).sum())
        assert int(r["base_distinct_users"]) == int((f <= cutoff).sum())
        # the maintainability identity
        assert (
            r["mv_distinct_users"]
            == r["base_distinct_users"] + r["delta_new_users"]
        )


# ---------------------------------------------------------------------------
# llm21: S-curve design, stopword signal matrix, blocking eval
# ---------------------------------------------------------------------------


def test_lsh_s_curve_matches_float_formula(spark):
    """The integer-ppm table must equal floor(1e6 * (1-(1-s^r)^b))
    and band_match = floor(1e6 * s^r), recomputed in exact python
    fractions (no float)."""
    from fractions import Fraction

    got = _run(spark, "dedup_lsh_s_curve_design").set_index("s_tenths")
    for t in range(1, 10):
        s = Fraction(t, 10)
        r = got.loc[t]
        assert int(r["band_match_ppm_b4r2"]) == int(1_000_000 * s**2)
        assert int(r["p_candidate_ppm_b4r2"]) == math.floor(
            1_000_000 * (1 - (1 - s**2) ** 4)
        )
        assert int(r["p_candidate_ppm_b2r4"]) == math.floor(
            1_000_000 * (1 - (1 - s**4) ** 2)
        )
    # S-curve monotone in s, and b4r2 dominates b2r4 (more bands =>
    # more candidate-aggressive) everywhere
    p1 = list(got["p_candidate_ppm_b4r2"])
    p2 = list(got["p_candidate_ppm_b2r4"])
    assert p1 == sorted(p1) and p2 == sorted(p2)
    assert all(a >= b for a, b in zip(p1, p2))


def test_stopword_signal_matrix_recounted(spark):
    from etl_building_inspector_spark.functions.text import LANG_STOPWORDS

    got = {
        (r.doc_lang, r.stopset_lang): (
            int(r.n_docs),
            int(r.stop_hits),
            int(r.n_tokens),
            int(r.hit_ppm),
        )
        for r in _run(spark, "text_stopword_signal_matrix").itertuples()
    }
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    toks = {i: _py_tokens(t) for i, t in zip(docs.index, docs["text"])}
    for sl, words in LANG_STOPWORDS.items():
        ws = set(words)
        for dl, g in docs.groupby("lang"):
            hits = sum(
                sum(1 for t in toks[i] if t in ws) for i in g.index
            )
            ntok = sum(len(toks[i]) for i in g.index)
            assert got[(dl, sl)] == (
                len(g),
                hits,
                ntok,
                hits * 1_000_000 // ntok,
            )
    assert len(got) == docs["lang"].nunique() * len(LANG_STOPWORDS)


def _py_phonetic(tok: str) -> str:
    # python twin of queries_llm15._phonetic_sql (simplified Soundex)
    code = tok.translate(
        str.maketrans(
            "abcdefghijklmnopqrstuvwxyz", "01230120022455012623010202"
        )
    )
    for _ in range(3):
        for d in "123456":
            code = code.replace(d + d, d)
    body = code[1:].replace("0", "")
    return tok[:1] + (body + "000")[:3]


def _py_typo(name: str) -> str:
    # swap the 2nd and 3rd characters of the first token
    t1 = name.split(" ")[0]
    rest = name[len(t1):]
    return t1[:1] + t1[2:3] + t1[1:2] + t1[3:] + rest


def test_blocking_strategy_eval_recounted(spark):
    got = {
        r.strategy: (
            int(r.n_truth),
            int(r.n_found),
            int(r.recall_ppm),
            int(r.n_candidate_pairs),
        )
        for r in _run(spark, "er_blocking_strategy_eval").itertuples()
    }
    part = pd.read_parquet(f"{SF}/part.parquet")
    base = part.groupby("p_name")["p_partkey"].min()
    planted = [
        (n, _py_typo(n))
        for n, k in base.items()
        if k % 7 == 0 and _py_typo(n) != n
    ]
    universe = list(base.index) + [t for _, t in planted]

    def key(strategy, x):
        t1 = x.split(" ")[0]
        if strategy == "exact_token":
            return t1
        if strategy == "prefix2":
            return t1[:2]
        return _py_phonetic(t1)

    from collections import Counter

    for s in ("exact_token", "phonetic", "prefix2"):
        n_truth = len(planted)
        n_found = sum(1 for n, t in planted if key(s, n) == key(s, t))
        widths = Counter(key(s, x) for x in universe)
        pairs = sum(w * (w - 1) // 2 for w in widths.values())
        assert got[s] == (
            n_truth,
            n_found,
            n_found * 1_000_000 // n_truth,
            pairs,
        ), s
    # the designed finding: the transposition typo defeats exact-token
    # blocking entirely while the phonetic key survives it
    assert got["phonetic"][1] > got["exact_token"][1]


# ---------------------------------------------------------------------------
# surface13: SLA, forward as-of, HHI, weekday, returns, lifecycle,
# conversion cohorts
# ---------------------------------------------------------------------------


def test_fill_rate_sla_recounted(spark):
    from etl_building_inspector_spark.plans.queries_surface13 import (
        SLA_DAYS,
    )

    got = _run(spark, "orders_fill_rate_sla").set_index("priority")
    li = pd.read_parquet(f"{SF}/lineitem.parquet")
    o = pd.read_parquet(f"{SF}/orders.parquet")
    j = li.merge(o, left_on="l_orderkey", right_on="o_orderkey")
    days = (
        pd.to_datetime(j["l_shipdate"]).dt.normalize()
        - pd.to_datetime(j["o_orderdate"]).dt.normalize()
    ).dt.days
    j = j.assign(ok=(days <= SLA_DAYS).astype(int))
    for pr, g in j.groupby("o_orderpriority"):
        r = got.loc[pr]
        assert int(r["n_lines"]) == len(g)
        assert int(r["n_within_sla"]) == int(g["ok"].sum())
        assert int(r["sla_ppm"]) == int(g["ok"].sum()) * 1_000_000 // len(g)


def test_asof_forward_matches_per_click_scan(spark):
    got = {
        int(r.click_id): (r.next_purchase_ts, int(r.next_purchase_cents))
        for r in _run(spark, "asof_join_forward").itertuples()
    }
    ev = pd.read_parquet(f"{SF}/events.parquet")
    ev = ev[ev["event_type"].isin(["click", "purchase"])]
    want = {}
    for uid, g in ev.groupby("user_id"):
        purchases = g[g["event_type"] == "purchase"].sort_values(
            ["ts", "event_id"]
        )
        for c in g[g["event_type"] == "click"].itertuples():
            nxt = purchases[purchases["ts"] >= c.ts]
            if nxt.empty:
                continue
            p = nxt.iloc[0]
            want[int(c.event_id)] = (
                p["ts"],
                int(_half_up_cents(pd.Series([p["value"]]))[0]),
            )
    assert got == want


def test_hhi_rationals_recounted(spark):
    from etl_building_inspector_spark.plans.queries_surface13 import (
        HHI_UNIT_DIV,
    )

    got = _run(spark, "revenue_concentration_hhi").set_index("nationkey")
    li = pd.read_parquet(f"{SF}/lineitem.parquet")
    s = pd.read_parquet(f"{SF}/supplier.parquet")
    j = li.merge(s, left_on="l_suppkey", right_on="s_suppkey")
    j["cents"] = _half_up_cents(j["l_extendedprice"])
    per = (
        j.groupby(["s_nationkey", "l_suppkey"])["cents"].sum()
        // HHI_UNIT_DIV
    )
    for nk in per.index.get_level_values(0).unique():
        u = per[nk]
        r = got.loc[int(nk)]
        assert int(r["n_suppliers"]) == len(u)
        assert int(r["hhi_num"]) == int((u * u).sum())
        assert int(r["hhi_den"]) == int(u.sum()) ** 2
        # HHI in [1/n, 1]
        assert int(r["hhi_num"]) * len(u) >= int(r["hhi_den"])
        assert int(r["hhi_num"]) <= int(r["hhi_den"])


def test_weekday_profile_iso_convention(spark):
    got = _run(spark, "orders_weekday_profile").set_index("iso_weekday")
    o = pd.read_parquet(f"{SF}/orders.parquet")
    dow = pd.to_datetime(o["o_orderdate"]).dt.dayofweek + 1  # ISO 1=Mon
    n = len(o)
    cnt = dow.value_counts()
    for d, c in cnt.items():
        r = got.loc[int(d)]
        assert int(r["n_orders"]) == int(c)
        assert int(r["deviation_ppm"]) == abs(int(c) * 7 - n) * 1_000_000 // n
    assert int(got["n_orders"].sum()) == n


def test_return_rate_recounted(spark):
    got = _run(spark, "lineitem_return_rate_by_nation").set_index(
        "nationkey"
    )
    li = pd.read_parquet(f"{SF}/lineitem.parquet")
    s = pd.read_parquet(f"{SF}/supplier.parquet")
    j = li.merge(s, left_on="l_suppkey", right_on="s_suppkey")
    for nk, g in j.groupby("s_nationkey"):
        ret = int((g["l_returnflag"] == "R").sum())
        r = got.loc[int(nk)]
        assert int(r["n_lines"]) == len(g)
        assert int(r["n_returned"]) == ret
        assert int(r["return_ppm"]) == ret * 1_000_000 // len(g)


def test_monthly_lifecycle_new_plus_returning(spark):
    got = _run(spark, "customers_monthly_lifecycle").set_index("ym")
    o = pd.read_parquet(f"{SF}/orders.parquet")
    od = pd.to_datetime(o["o_orderdate"])
    cm = (
        o.assign(ym=od.dt.year * 100 + od.dt.month)[["o_custkey", "ym"]]
        .drop_duplicates()
    )
    first = cm.groupby("o_custkey")["ym"].min()
    cm = cm.assign(first_ym=cm["o_custkey"].map(first))
    for ym, g in cm.groupby("ym"):
        r = got.loc[int(ym)]
        assert int(r["n_active"]) == len(g)
        assert int(r["n_new"]) == int((g["ym"] == g["first_ym"]).sum())
        assert int(r["n_returning"]) == int(
            (g["ym"] > g["first_ym"]).sum()
        )
        assert r["n_active"] == r["n_new"] + r["n_returning"]
    # every customer is new exactly once across all months
    assert int(got["n_new"].sum()) == cm["o_custkey"].nunique()


def test_cohort_conversion_median_recounted(spark):
    got = _run(spark, "cohort_time_to_first_purchase").set_index("cohort")
    ev = pd.read_parquet(f"{SF}/events.parquet")
    firsts = ev.pivot_table(
        index="user_id",
        columns="event_type",
        values="ts",
        aggfunc="min",
    )
    conv = firsts.dropna(subset=["signup", "purchase"])
    conv = conv[conv["purchase"] >= conv["signup"]]
    days = (
        conv["purchase"].dt.normalize() - conv["signup"].dt.normalize()
    ).dt.days
    cohort = conv["signup"].dt.year * 100 + conv["signup"].dt.month
    df = pd.DataFrame(
        {"cohort": cohort, "days": days, "user_id": conv.index}
    )
    for ch, g in df.groupby("cohort"):
        vals = sorted(zip(g["days"], g["user_id"]))
        n = len(vals)
        r = got.loc[int(ch)]
        assert int(r["n_converted"]) == n
        assert int(r["p50_days"]) == vals[(n + 1) // 2 - 1][0]
        assert int(r["max_days"]) == vals[-1][0]


# ---------------------------------------------------------------------------
# llm22: curriculum, winnowing, margins, exact emb dedup, KMV merge,
# truncation curve, source TVD, layout planning, hapax, length
# percentiles, radius ladder
# ---------------------------------------------------------------------------


def test_curriculum_phase_weights_recounted(spark):
    got = {
        (int(r.phase), r.source): (int(r.tercile), int(r.weight_ppm))
        for r in _run(spark, "corpus_curriculum_phases").itertuples()
    }
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    mc = {
        src: int(g["text"].str.len().sum()) // len(g)
        for src, g in docs.groupby("source")
    }
    ranked = sorted(mc.items(), key=lambda kv: (kv[1], kv[0]))
    n = len(ranked)
    # ntile(3): first (n mod 3) buckets get the extra row
    base, extra = divmod(n, 3)
    terciles, i = {}, 0
    for b in range(1, 4):
        size = base + (1 if b <= extra else 0)
        for src, _ in ranked[i : i + size]:
            terciles[src] = b
        i += size
    for phase in (1, 2, 3):
        w = {
            src: {1: 1, 2: t, 3: t * t}[phase]
            for src, t in terciles.items()
        }
        tot = sum(w.values())
        for src in w:
            assert got[(phase, src)] == (
                terciles[src],
                w[src] * 1_000_000 // tot,
            ), (phase, src)


def _py_shingle_hashes(text: str, k: int = 3) -> list[int]:
    toks = _py_tokens(text)
    if len(toks) < k:
        return []
    return [
        int(
            hashlib.md5(" ".join(toks[i : i + k]).encode()).hexdigest()[:8],
            16,
        )
        for i in range(len(toks) - k + 1)
    ]


def test_winnow_window_sensitivity_recounted(spark):
    from etl_building_inspector_spark.plans.queries_llm22 import (
        WINNOW_SENS_W,
    )

    got = {
        int(r.w): (int(r.n_fingerprints), int(r.n_hashes))
        for r in _run(spark, "dedup_winnow_window_sensitivity").itertuples()
    }
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    hs = [_py_shingle_hashes(t) for t in docs["text"]]
    for w in WINNOW_SENS_W:
        n_fp, n_h = 0, 0
        for h in hs:
            n_h += len(h)
            if len(h) < w:
                n_fp += len(set(h))
            else:
                mins = {
                    min(h[i : i + w]) for i in range(len(h) - w + 1)
                }
                n_fp += len(mins)
        assert got[w] == (n_fp, n_h), f"w={w}"
    # storage monotonicity: larger window keeps fewer fingerprints
    ws = sorted(got)
    for a, b in zip(ws, ws[1:]):
        assert got[a][0] >= got[b][0]
        assert got[a][1] == got[b][1]  # hash volume is w-independent


def _fold_cos(a, b):
    num, na, nb = 0.0, 0.0, 0.0
    for x, y in zip(a, b):
        num += float(x) * float(y)
    for x in a:
        na += float(x) * float(x)
    for y in b:
        nb += float(y) * float(y)
    return num / (math.sqrt(na) * math.sqrt(nb))


def test_topk_margin_recomputed_bitexact(spark):
    from etl_building_inspector_spark.plans.queries_llm22 import (
        MARGIN_QUERIES,
    )

    got = _run(spark, "ann_topk_margin_eval").set_index("q_id")
    emb = pd.read_parquet(f"{SF}/embeddings.parquet")
    vecs = {int(r.vec_id): list(r.embedding) for r in emb.itertuples()}
    for qi in range(MARGIN_QUERIES):
        scored = sorted(
            (
                (-_fold_cos(vecs[qi], vecs[c]), c)
                for c in vecs
                if c != qi
            ),
        )
        (nc1, c1), (nc2, _) = scored[0], scored[1]
        r = got.loc[qi]
        assert int(r["top1_id"]) == c1
        assert float(r["cos1"]) == -nc1
        assert float(r["cos2"]) == -nc2
        assert float(r["margin"]) == (-nc1) - (-nc2)
        assert float(r["margin"]) >= 0.0


def test_embedding_exact_dedup_census(spark):
    got = {
        int(r.group_size): (int(r.n_groups), int(r.n_vectors))
        for r in _run(spark, "dedup_embedding_exact").itertuples()
    }
    emb = pd.read_parquet(f"{SF}/embeddings.parquet")
    from collections import Counter

    keys = [tuple(e) for e in emb["embedding"]]
    keys += [
        tuple(r.embedding)
        for r in emb.itertuples()
        if r.vec_id % 10 == 0
    ]
    groups = Counter(Counter(keys).values())
    want = {sz: (n, sz * n) for sz, n in groups.items()}
    assert got == want
    # every planted clone lands in a >= 2 group
    assert sum(n for sz, (n, _) in want.items() if sz >= 2) > 0


def test_kmv_merge_identity_reproved_in_python(spark):
    got = _run(spark, "sketch_kmv_merge_eval").iloc[0]
    li = pd.read_parquet(f"{SF}/lineitem.parquet")
    pairs = {
        (int(k) % 2, _u32("kmv", int(k)))
        for k in li["l_orderkey"].unique()
    }
    all_hv = sorted({hv for _, hv in pairs})
    direct_hk = max(all_hv[:256])
    halves = {0: [], 1: []}
    for half, hv in pairs:
        halves[half].append(hv)
    merged_pool = sorted(
        set(sorted(halves[0])[:256]) | set(sorted(halves[1])[:256])
    )
    merged_hk = max(merged_pool[:256])
    assert int(got["direct_hk"]) == direct_hk
    assert int(got["merged_hk"]) == merged_hk
    assert bool(got["merge_exact"]) and direct_hk == merged_hk


def test_truncation_loss_curve_recounted(spark):
    from etl_building_inspector_spark.plans.queries_llm22 import (
        TRUNC_LENGTHS,
    )

    got = _run(spark, "pack_truncation_loss_curve").set_index(
        "context_len"
    )
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    ns = [len(_py_tokens(t)) for t in docs["text"]]
    total = sum(ns)
    for L in TRUNC_LENGTHS:
        kept = sum(min(n, L) for n in ns)
        lost = sum(max(n - L, 0) for n in ns)
        r = got.loc[L]
        assert int(r["kept_tokens"]) == kept
        assert int(r["lost_tokens"]) == lost
        assert kept + lost == total  # conservation at every L
        assert int(r["lost_ppm"]) == lost * 1_000_000 // total
    # monotone: longer context loses less
    lst = list(got["lost_tokens"])
    assert lst == sorted(lst, reverse=True)


def test_source_token_tvd_recounted(spark):
    got = _run(spark, "corpus_source_token_tvd").set_index("source")
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    from collections import Counter

    per_source: dict[str, Counter] = {}
    glob: Counter = Counter()
    for r in docs.itertuples():
        c = per_source.setdefault(r.source, Counter())
        for t in _py_tokens(r.text):
            c[t] += 1
            glob[t] += 1
    n = sum(glob.values())
    for src, c in per_source.items():
        n_s = sum(c.values())
        num = sum(
            abs(c.get(t, 0) * n - cv * n_s) for t, cv in glob.items()
        )
        r = got.loc[src]
        assert int(r["n_tokens"]) == n_s
        assert int(r["tvd_ppm"]) == num * 1_000_000 // (2 * n_s * n)
        assert 0 <= int(r["tvd_ppm"]) <= 1_000_000  # TVD in [0, 1]


def test_layout_planning_arithmetic(spark):
    from etl_building_inspector_spark.plans.queries_llm22 import (
        PLAN_TARGET_BYTES,
    )

    got = _run(spark, "layout_partition_size_planning").set_index("tbl")
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    li = pd.read_parquet(f"{SF}/lineitem.parquet")
    ev = pd.read_parquet(f"{SF}/events.parquet")
    plans = {
        "documents": (len(docs), int((docs["text"].str.len() + 32).sum())),
        "lineitem": (len(li), len(li) * 64),
        "events": (len(ev), int((56 + ev["props"].str.len()).sum())),
    }
    for tbl, (rows, est) in plans.items():
        nf = max(est // PLAN_TARGET_BYTES, 1)
        r = got.loc[tbl]
        assert int(r["n_rows"]) == rows
        assert int(r["est_bytes"]) == est
        assert int(r["n_files"]) == nf
        assert int(r["rows_per_file"]) == rows // nf


def test_hapax_ratio_recounted(spark):
    got = _run(spark, "text_hapax_ratio_by_source").set_index("source")
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    from collections import Counter

    glob: Counter = Counter()
    toks_by_src: dict[str, list] = {}
    for r in docs.itertuples():
        ts = _py_tokens(r.text)
        toks_by_src.setdefault(r.source, []).extend(ts)
        glob.update(ts)
    hapax = {t for t, c in glob.items() if c == 1}
    for src, ts in toks_by_src.items():
        nh = sum(1 for t in ts if t in hapax)
        r = got.loc[src]
        assert int(r["n_tokens"]) == len(ts)
        assert int(r["n_hapax"]) == nh
        assert int(r["hapax_ppm"]) == nh * 1_000_000 // len(ts)


def test_length_percentiles_exact_ranks(spark):
    got = _run(spark, "corpus_length_percentiles_by_lang").set_index(
        "lang"
    )
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    for lang, g in docs.groupby("lang"):
        vals = sorted(zip(g["n_chars"], g["doc_id"]))
        n = len(vals)
        r = got.loc[lang]
        assert int(r["n_docs"]) == n
        assert int(r["p25_chars"]) == vals[(n + 3) // 4 - 1][0]
        assert int(r["p50_chars"]) == vals[(n + 1) // 2 - 1][0]
        assert int(r["p75_chars"]) == vals[(3 * n + 3) // 4 - 1][0]
        assert int(r["p95_chars"]) == vals[(19 * n + 19) // 20 - 1][0]


def test_radius_sensitivity_ladder_recounted(spark):
    from etl_building_inspector_spark.plans.queries_llm22 import (
        RADIUS_LADDER_PPK,
    )

    got = _run(spark, "ann_radius_sensitivity").set_index("q_id")
    emb = pd.read_parquet(f"{SF}/embeddings.parquet")
    vecs = {int(r.vec_id): list(r.embedding) for r in emb.itertuples()}
    for qi in range(5):
        cosines = [
            _fold_cos(vecs[qi], vecs[c]) for c in vecs if c != qi
        ]
        r = got.loc[qi]
        prev = None
        for t in RADIUS_LADDER_PPK:
            cnt = sum(1 for c in cosines if c >= t / 1000)
            assert int(r[f"n_ge_{t}"]) == cnt
            if prev is not None:
                assert cnt <= prev  # tighter radius, fewer neighbors
            prev = cnt


# ---------------------------------------------------------------------------
# Fixture-key-collision regression (round-7 sf0.1 oracle soak): the
# synthetic lineitem's (l_orderkey, l_linenumber) is NOT unique, so a
# window ordered only by (shipdate, orderkey, linenumber) ties two
# rows with different quantities at sf0.1 and the running prefix
# becomes engine-order-dependent. The fix appends l_quantity to the
# order; these tests recompute the running sums from raw parquet
# under that order AND pin the tie-safety property itself.
# ---------------------------------------------------------------------------


def test_running_sum_recounted_and_tie_safe(spark):
    got = _run(spark, "window_running_sum")
    li = pd.read_parquet(f"{SF}/lineitem.parquet")
    li = li.assign(q=li["l_quantity"].astype("int64"))
    order = ["l_shipdate", "l_orderkey", "l_linenumber", "q"]
    want_rows = []
    for sk, g in li.sort_values(order).groupby("l_suppkey"):
        run = g["q"].cumsum()
        for (_, r), tot in zip(g.iterrows(), run):
            want_rows.append(
                (int(sk), int(r["l_orderkey"]), int(r["l_linenumber"]), int(tot))
            )
    have = sorted(
        (int(r.supp_key), int(r.order_key), int(r.line_number), int(r.running_qty))
        for r in got.itertuples()
    )
    assert have == sorted(want_rows)
    # the tie-safety property: within any group fully tied on the
    # ORDER BY columns, quantity is constant by construction, so the
    # running values are permutation-invariant
    ties = li.groupby(order).size()
    tied = ties[ties > 1]
    for key in tied.index:
        grp = li[(li[order] == pd.Series(key, index=order)).all(axis=1)]
        assert grp["q"].nunique() == 1
