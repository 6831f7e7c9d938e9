"""Single-node pandas baseline for BASELINE.md context.

The reference architecture is single-threaded pandas; it publishes no
numbers, so this measures the SAME computations the engine's headline
queries perform, written idiomatically in pandas over the same parquet
inputs. Output: one JSON line comparable with bench.py.

Usage: python tools/baseline_pandas.py [sf_dir]
"""

from __future__ import annotations

import json
import re
import sys
import time

import pandas as pd


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    m = re.search(r"sf([0-9.]+)", sf_dir)
    timings: dict[str, float] = {}

    lineitem = pd.read_parquet(f"{sf_dir}/lineitem.parquet")
    orders = pd.read_parquet(f"{sf_dir}/orders.parquet")
    customer = pd.read_parquet(f"{sf_dir}/customer.parquet")
    nation = pd.read_parquet(f"{sf_dir}/nation.parquet")
    region = pd.read_parquet(f"{sf_dir}/region.parquet")
    events = pd.read_parquet(f"{sf_dir}/events.parquet")
    # replicated corpora store ts as raw int64 nanos (no parquet logical
    # type survives the replication round-trip) — same adaptation as the
    # engine catalog
    if not pd.api.types.is_datetime64_any_dtype(events["ts"]):
        events["ts"] = pd.to_datetime(events["ts"], unit="ns")

    t0 = time.perf_counter()
    l = lineitem[lineitem.l_shipdate <= pd.Timestamp("1998-09-02")]
    disc_price = l.l_extendedprice * (1 - l.l_discount)
    g = l.assign(disc_price=disc_price,
                 charge=disc_price * (1 + l.l_tax)).groupby(
        ["l_returnflag", "l_linestatus"]).agg(
        sum_qty=("l_quantity", "sum"), sum_base_price=("l_extendedprice", "sum"),
        sum_disc_price=("disc_price", "sum"), sum_charge=("charge", "sum"),
        avg_qty=("l_quantity", "mean"), count_order=("l_quantity", "size"))
    timings["q01_pricing_summary"] = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    cust = customer.merge(nation, left_on="c_nationkey", right_on="n_nationkey")
    cust = cust.merge(region[region.r_name == "ASIA"],
                      left_on="n_regionkey", right_on="r_regionkey")
    o = orders.merge(cust[["c_custkey", "n_name"]], left_on="o_custkey",
                     right_on="c_custkey")
    li = lineitem.merge(o[["o_orderkey", "n_name"]], left_on="l_orderkey",
                        right_on="o_orderkey")
    li.assign(rev=li.l_extendedprice * (1 - li.l_discount)).groupby("n_name").agg(
        revenue=("rev", "sum"), n_orders=("o_orderkey", "nunique"))
    timings["q02_revenue_by_nation"] = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    orders.sort_values(["o_custkey", "o_orderdate", "o_orderkey"]).groupby(
        "o_custkey").tail(1)
    timings["q07_latest_order_per_customer"] = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    ev = events.assign(day=events.ts.dt.floor("D"))
    ev.groupby(["day", "event_type"]).agg(
        n_events=("event_id", "size"), total_value=("value", "sum"),
        n_users=("user_id", "nunique"))
    timings["q12_event_daily_rollup"] = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    so = orders.sort_values(["o_custkey", "o_orderdate", "o_orderkey"])
    so.assign(running=so.groupby("o_custkey").o_totalprice.cumsum())
    timings["q14_running_spend"] = round(time.perf_counter() - t0, 3)

    # ---- training-data ops (the engine's d/e headline queries), same
    # computations in idiomatic single-node pandas/numpy

    import hashlib

    import numpy as np

    documents = pd.read_parquet(f"{sf_dir}/documents.parquet")
    embeddings = pd.read_parquet(f"{sf_dir}/embeddings.parquet")

    t0 = time.perf_counter()
    digest = documents.text.map(
        lambda s: hashlib.md5(s.encode()).hexdigest())
    documents.assign(digest=digest).groupby("digest").agg(
        canonical_id=("doc_id", "min"), n_copies=("doc_id", "size"))
    timings["d01_exact_dedup"] = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    toks = documents.text.str.split(" ")
    documents.assign(n_tokens=toks.str.len(),
                     n_chars=documents.text.str.len()).groupby("lang").agg(
        n_docs=("doc_id", "size"), avg_tokens=("n_tokens", "mean"),
        avg_chars=("n_chars", "mean"))
    timings["d02_token_stats"] = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    # MinHash-LSH near-dup pairs: per-doc shingle set -> 16 minhashes ->
    # band buckets -> candidate pairs -> jaccard verify (same parameters as
    # llm/dedup.py; hash via md5 like the engine so the work is comparable)
    def _shingles(s: str) -> set:
        t = s.split(" ")
        return {" ".join(t[i:i + 3]) for i in range(max(1, len(t) - 2))}

    def _mh(sh: set) -> list:
        hs = [[int.from_bytes(hashlib.md5(f"{i}|{x}".encode()).digest()[:8],
                              "big") for x in sh] for i in range(16)]
        return [min(h) for h in hs]

    sh = documents.text.map(_shingles)
    mh = sh.map(_mh)
    buckets: dict = {}
    for doc_id, sig in zip(documents.doc_id, mh):
        for band in range(4):
            key = (band, tuple(sig[band * 4:band * 4 + 4]))
            buckets.setdefault(key, []).append(doc_id)
    sh_by_id = dict(zip(documents.doc_id, sh))
    cands = {(a, b) for ids in buckets.values() if len(ids) > 1
             for i, a in enumerate(ids) for b in ids[i + 1:] if a < b}
    [(a, b) for a, b in cands
     if 2 * len(sh_by_id[a] & sh_by_id[b])
     >= len(sh_by_id[a] | sh_by_id[b])]
    timings["d06_minhash_pairs"] = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    # brute-force cosine top-5 for 8 query vectors (e01's shape)
    mat = np.vstack(embeddings.embedding.to_numpy()).astype(np.float64)
    ids = embeddings.vec_id.to_numpy()
    qidx = np.argsort(ids)[:8]
    norms = np.linalg.norm(mat, axis=1)
    for qi in qidx:
        cos = (mat @ mat[qi]) / (norms * norms[qi])
        cos[qi] = -np.inf
        np.argpartition(-cos, 5)[:5]
    timings["e01_knn_bruteforce"] = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    # IVF-bucketed near-dup pairs (e02's shape): floor-bucket dims 1-2,
    # all-pairs cosine within each bucket, threshold 0.4
    b1 = np.floor(mat[:, 0] * 4).astype(np.int64)
    b2 = np.floor(mat[:, 1] * 4).astype(np.int64)
    cell = pd.DataFrame({"b1": b1, "b2": b2, "i": np.arange(len(mat))})
    for _, grp in cell.groupby(["b1", "b2"]):
        idx = grp.i.to_numpy()
        if len(idx) < 2:
            continue
        sub = mat[idx]
        c = (sub @ sub.T) / np.outer(norms[idx], norms[idx])
        iu = np.triu_indices(len(idx), k=1)
        np.argwhere(c[iu] >= 0.4)
    timings["e02_bucketed_near_dup"] = round(time.perf_counter() - t0, 3)

    # ---- round-3 ops

    t0 = time.perf_counter()
    b = documents.doc_id.map(
        lambda i: int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % 100)
    split = np.where(b < 80, "train", np.where(b < 90, "val", "test"))
    documents.assign(split=split).groupby(["lang", "split"]).agg(
        n_docs=("doc_id", "size"), sum_chars=("n_chars", "sum"))
    timings["d37_hash_split"] = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    d = documents.assign(digest=digest)
    v1 = d[d.doc_id % 10 != 0][["doc_id", "lang", "digest"]]
    v2 = d[d.doc_id % 10 != 1][["doc_id", "lang", "digest"]].copy()
    rev = v2.doc_id % 10 == 2
    v2.loc[rev, "digest"] = v2.loc[rev, "digest"].map(
        lambda x: hashlib.md5((x + ":rev2").encode()).hexdigest())
    j = v1.merge(v2, on=["doc_id", "lang"], how="outer",
                 suffixes=("_1", "_2"))
    status = np.where(j.digest_1.isna(), "added",
                      np.where(j.digest_2.isna(), "removed",
                               np.where(j.digest_1 != j.digest_2,
                                        "changed", "unchanged")))
    j.assign(status=status).groupby(["lang", "status"]).size()
    timings["d41_snapshot_diff"] = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    # q62: 17h-stride/9h windows are disjoint, so IntervalIndex routing is
    # the idiomatic pandas formulation
    starts = pd.Timestamp("2024-01-01") + pd.to_timedelta(
        [i * 17 for i in range(40)], "h")
    iv = pd.IntervalIndex.from_arrays(
        starts, starts + pd.Timedelta(hours=9), closed="left")
    pos = iv.get_indexer(events.ts.astype('datetime64[ns]'))
    hit = events.assign(win=pos)
    hit[hit.win >= 0].groupby("win").agg(
        n_events=("event_id", "size"), n_users=("user_id", "nunique"))
    timings["q62_interval_join"] = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    cs = documents.text.map(
        lambda x: int(hashlib.md5(x.encode()).hexdigest()[:8], 16))

    def _vid_sig(c: int) -> str:
        fps = [hashlib.md5(f"{c}:{ms}".encode()).hexdigest()
               for ms in range(0, c % 5000 + 1, 1000)]
        return hashlib.md5("".join(fps).encode()).hexdigest()

    vsig = cs.map(_vid_sig)
    sigs = pd.concat([
        pd.DataFrame({"media_id": documents.doc_id, "sig": vsig}),
        pd.DataFrame({"media_id": documents.doc_id + 10 ** 9, "sig": vsig}),
    ])
    g = sigs.groupby("sig").agg(n=("media_id", "size"),
                                canonical=("media_id", "min"))
    g[g.n > 1]
    timings["d40_video_near_dup"] = round(time.perf_counter() - t0, 3)

    # ---------------- round-4 ops ----------------
    part = pd.read_parquet(f"{sf_dir}/part.parquet")

    t0 = time.perf_counter()
    anc = []
    for k in range(7):
        anc.append(pd.DataFrame({
            "node": part.p_partkey // (10 ** k),
            "p_partkey": part.p_partkey,
            "v": part.p_retailprice}))
    a = (pd.concat(anc).drop_duplicates(["node", "p_partkey"]))
    a = a[a.node < 100]
    a.groupby("node").agg(n_desc=("v", "size"), subtree_value=("v", "sum"))
    timings["g05_hierarchy_rollup"] = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    pc = orders.groupby("o_custkey").o_orderpriority.nunique()
    n_all = orders.o_orderpriority.nunique()
    seg = customer.set_index("c_custkey").c_mktsegment
    dfq = pd.DataFrame({"n_prio": pc}).join(seg.rename("segment"))
    dfq.assign(complete=dfq.n_prio == n_all).groupby("segment").agg(
        n_customers=("complete", "size"), n_complete=("complete", "sum"))
    timings["q71_relational_division"] = round(time.perf_counter() - t0, 3)
    # ---------------- round-6 ops ----------------

    t0 = time.perf_counter()
    # d58: hashed unigram+bigram linear classifier (same md5 bucketing)
    def _d58(text: str) -> int:
        toks = text.split(" ")
        feats = toks + [a + "_" + b for a, b in zip(toks, toks[1:])]
        s = 0
        for f in feats:
            b = int(hashlib.md5(f.encode()).hexdigest()[:8], 16) % 4096
            s += (b % 2001) - 1000
        q = abs(s) // len(feats) * (1 if s >= 0 else -1)
        return q - 50  # keep in lockstep with plans/d.py _D58_BIAS_PPM
    score = documents.text.map(_d58)
    documents.assign(score=score, keep=score > 0).groupby(
        ["lang", "keep"]).agg(n_docs=("doc_id", "size"))
    timings["d58_linear_classifier_scores"] = round(
        time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    # e23: sign-bit signatures, Hamming shortlist 32, exact rerank top-5
    bits = (mat > 0)
    packed = np.packbits(bits, axis=1)
    lut = np.unpackbits(np.arange(256, dtype=np.uint8)[:, None],
                        axis=1).sum(axis=1)
    for qi in qidx:
        ham = lut[np.bitwise_xor(packed, packed[qi])].sum(axis=1)
        ham[qi] = 1 << 30
        short = np.argsort(ham, kind="stable")[:32]
        cos = (mat[short] @ mat[qi]) / (norms[short] * norms[qi])
        short[np.argsort(-cos, kind="stable")[:5]]
    timings["e23_binary_hamming_search"] = round(
        time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    # g07: bounded-hop weighted SSSP over the mutual top-8 co-trade graph
    os_ = lineitem[["l_orderkey", "l_suppkey"]].drop_duplicates()
    pr = os_.merge(os_, on="l_orderkey")
    pr = pr[pr.l_suppkey_x < pr.l_suppkey_y]
    cnt = pr.groupby(["l_suppkey_x", "l_suppkey_y"]).size().reset_index(
        name="n")
    directed = pd.concat([
        cnt.rename(columns={"l_suppkey_x": "s1", "l_suppkey_y": "s2"}),
        cnt.rename(columns={"l_suppkey_x": "s2", "l_suppkey_y": "s1"})])
    directed = directed.sort_values(["s1", "n", "s2"],
                                    ascending=[True, False, True])
    top = directed.groupby("s1").head(8)[["s1", "s2"]]
    mutual = top.merge(top, left_on=["s1", "s2"], right_on=["s2", "s1"])
    edges = mutual[mutual.s1_x < mutual.s2_x][["s1_x", "s2_x"]]
    adj: dict = {}
    for a, b in edges.itertuples(index=False):
        w = int(hashlib.md5(f"{min(a,b)}_{max(a,b)}".encode())
                .hexdigest()[:8], 16) % 99 + 1
        adj.setdefault(a, []).append((b, w))
        adj.setdefault(b, []).append((a, w))
    for s in [x for x in adj if x < 10]:
        dist = {s: 0}
        for _ in range(4):
            for u, du in list(dist.items()):
                for v, w in adj.get(u, []):
                    if du + w < dist.get(v, 1 << 30):
                        dist[v] = du + w
    timings["g07_bounded_sssp"] = round(time.perf_counter() - t0, 3)

    # ---------------- round-7 ops ----------------

    t0 = time.perf_counter()
    # d60: train per-bucket polarity weights from the d26-style verdicts,
    # then run inference — the full lifecycle single-core
    tok_re = re.compile(r"\w+|[^\w\s]")
    n_toks = documents.text.map(lambda s: len(tok_re.findall(s)))
    n_uniq = documents.text.map(lambda s: len(set(tok_re.findall(s))))
    dup_rn = documents.assign(
        dig=documents.text.map(
            lambda s: hashlib.md5(s.encode()).hexdigest())
    ).sort_values("doc_id").groupby("dig").cumcount()
    verdict = np.where(n_toks < 30, "too_short",
                       np.where(2 * n_uniq < n_toks, "low_diversity",
                                np.where(dup_rn > 0, "exact_dup", "keep")))
    y = (verdict == "keep").astype(int)

    def _buckets(text: str) -> list:
        toks = text.split(" ")
        feats = toks + [a + "_" + b for a, b in zip(toks, toks[1:])]
        return [int(hashlib.md5(f.encode()).hexdigest()[:8], 16) % 4096
                for f in feats]

    blists = documents.text.map(_buckets)
    occ = pd.DataFrame({
        "bucket": np.concatenate([np.array(b) for b in blists]),
        "y": np.repeat(y, blists.map(len)),
        "doc": np.repeat(documents.doc_id.values, blists.map(len)),
        "verdict": np.repeat(verdict, blists.map(len))})
    cnt = occ.groupby("bucket").y.agg(["sum", "size"])
    n1, n0 = cnt["sum"], cnt["size"] - cnt["sum"]
    g1, g0 = int(n1.sum()), int(n0.sum())
    # truncating division (sign-adjusted abs//) mirroring Spark DIV /
    # DuckDB // — Python's bare // FLOORS, which diverges on negative
    # numerators (polarities and scores go negative)
    def tdiv(a, b):
        return np.sign(a) * (np.abs(a) // np.abs(b))

    w = (tdiv((n1 - n0) * 1_000_000, n1 + n0)
         - tdiv((g1 - g0) * 1_000_000, g1 + g0))
    occ = occ.assign(w=occ.bucket.map(w))
    sc = occ.groupby(["doc", "verdict"]).w.agg(["sum", "size"])
    score = tdiv(sc["sum"], sc["size"])
    pd.DataFrame({"score": score, "keep_pred": score > 0}).groupby(
        [sc.index.get_level_values("verdict"), "keep_pred"]).size()
    timings["d60_trained_classifier"] = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    # q94: relational -> JSON -> parse -> typed extraction loop
    items94 = lineitem.assign(
        qty=lineitem.l_quantity.astype(int),
        price_c=(lineitem.l_extendedprice * 100).round().astype(int))
    per_o = (items94.sort_values(
        ["l_orderkey", "l_linenumber", "qty", "price_c"])
        .groupby("l_orderkey")
        .apply(lambda g: json.dumps({
            "okey": int(g.name),
            "items": [{"ln": int(r.l_linenumber), "qty": int(r.qty),
                       "price_c": int(r.price_c)}
                      for r in g.itertuples()]}), include_groups=False))
    parsed = per_o.map(json.loads)
    pd.DataFrame({
        "okey": parsed.map(lambda d: d["okey"]),
        "n_items": parsed.map(lambda d: len(d["items"])),
        "sum_qty": parsed.map(lambda d: sum(i["qty"] for i in d["items"])),
        "first_qty": parsed.map(lambda d: d["items"][0]["qty"]),
    }).merge(orders[["o_orderkey", "o_orderpriority"]],
             left_on="okey", right_on="o_orderkey").groupby(
        "o_orderpriority").agg({"n_items": "sum", "sum_qty": "sum",
                                "first_qty": "sum"})
    timings["q94_variant_battery"] = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    # q96: relational -> XML text -> ElementTree parse -> extraction loop
    # (the pandas way to consume an XML feed: one parse per document)
    import xml.etree.ElementTree as ET
    per_x = (items94.sort_values(["l_orderkey", "l_linenumber", "qty"])
             .groupby("l_orderkey")
             .apply(lambda g: "<ROW><okey>%d</okey>%s</ROW>" % (
                 g.name, "".join(
                     f"<items><ln>{int(r.l_linenumber)}</ln>"
                     f"<qty>{int(r.qty)}</qty></items>"
                     for r in g.itertuples())), include_groups=False))
    trees = per_x.map(ET.fromstring)
    pd.DataFrame({
        "okey": trees.map(lambda t: int(t.findtext("okey"))),
        "n_items": trees.map(lambda t: len(t.findall("items"))),
        "sum_qty": trees.map(lambda t: sum(
            int(i.findtext("qty")) for i in t.findall("items"))),
    }).merge(orders[["o_orderkey", "o_orderpriority"]],
             left_on="okey", right_on="o_orderkey").groupby(
        "o_orderpriority").agg({"n_items": "sum", "sum_qty": "sum"})
    timings["q96_xml_battery"] = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    # d64: exact cross-source token-bucket overlap via python sets — the
    # exact computation the theta sketches replace (pandas has no sketch
    # tier; at sketch-exact gate scale the numbers are identical)
    tok_src = documents[["source", "text"]].copy()
    tok_src["toks"] = tok_src.text.str.split(" ")
    per_src: dict = {}
    for src, grp in tok_src.groupby("source"):
        bs = set()
        for toks in grp.toks:
            for tk in toks:
                bs.add(int(hashlib.md5(tk.encode()).hexdigest()[:8], 16)
                       % 3000)
        per_src[src] = bs
    srcs = sorted(per_src)
    rows64 = []
    for i, sa in enumerate(srcs):
        for sb in srcs[i + 1:]:
            u = per_src[sa] | per_src[sb]
            c = per_src[sa] & per_src[sb]
            rows64.append((sa, sb, len(u), len(c),
                           len(per_src[sa] - per_src[sb]),
                           len(c) * 1_000_000 // len(u)))
    pd.DataFrame(rows64, columns=[
        "src_a", "src_b", "n_union", "n_common", "n_only_a",
        "jaccard_ppm"])
    timings["d64_theta_source_overlap"] = round(time.perf_counter() - t0, 3)

    # d66/d67 — heavy-hitter and coverage-curve over per-lang token
    # buckets (single-node answer: one pass building per-lang Counters /
    # bucket sets; the engine answers both from mergeable sketch states)
    t0 = time.perf_counter()
    from collections import Counter
    per_lang_cnt: dict[str, Counter] = {}
    for lang, grp in documents.assign(
            toks=documents.text.str.split(" ")).groupby("lang"):
        c = Counter()
        for toks in grp.toks:
            for tk in toks:
                c[int(hashlib.md5(tk.encode()).hexdigest()[:8], 16)
                  % 3000] += 1
        per_lang_cnt[lang] = c
    rows66 = []
    for lang, c in per_lang_cnt.items():
        top = c.most_common(40)
        thresh = top[-1][1]
        rows66 += [(lang, b, n) for b, n in top if n > thresh]
    pd.DataFrame(rows66, columns=["lang", "bucket", "cnt"])
    timings["d66_heavy_hitter_buckets"] = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    # rebuild the per-lang bucket sets inside d67's timed block so its
    # reported wall is the STANDALONE cost (tokenize + hash included),
    # not just the set unions over d66's already-built state
    per_lang_set = {}
    for lang, grp in documents.assign(
            toks=documents.text.str.split(" ")).groupby("lang"):
        bs = set()
        for toks in grp.toks:
            for tk in toks:
                bs.add(int(hashlib.md5(tk.encode()).hexdigest()[:8], 16)
                       % 3000)
        per_lang_set[lang] = bs
    langs = sorted(per_lang_set)
    total = set().union(*per_lang_set.values())
    cum: set = set()
    rows67 = []
    for lang in langs:
        cum = cum | per_lang_set[lang]
        rows67.append((lang, len(per_lang_set[lang]), len(cum),
                       len(total), len(cum) * 1_000_000 // len(total)))
    pd.DataFrame(rows67, columns=["lang", "own_buckets", "cum_buckets",
                                  "total_buckets", "cum_ppm"])
    timings["d67_hll_lang_coverage"] = round(time.perf_counter() - t0, 3)

    # d69 — exact distinct users per event type + global (pandas nunique;
    # the engine computes the same from mergeable segment bitmaps)
    t0 = time.perf_counter()
    g69 = events.groupby("event_type").agg(
        n_events=("user_id", "size"), n_users=("user_id", "nunique"))
    tot_users = events.user_id.nunique()
    g69.assign(total_users=tot_users,
               share_ppm=g69.n_users * 1_000_000 // tot_users)
    timings["d69_bitmap_exact_distinct"] = round(
        time.perf_counter() - t0, 3)

    # --- d70: deletion-neighborhood fuzzy blocking (depth 1) ---
    def _lev(a: str, b: str) -> int:
        if a == b:
            return 0
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i] + [0] * len(b)
            for j, cb in enumerate(b, 1):
                cur[j] = min(prev[j] + 1, cur[j - 1] + 1,
                             prev[j - 1] + (ca != cb))
            prev = cur
        return prev[len(b)]

    t0 = time.perf_counter()
    names = customer[["c_custkey", "c_name"]].copy()
    names["key"] = names.c_name.str.replace(r"[^\x20-\x7E]", "", regex=True)
    names = names[names.key.str.len() > 0]
    sig_rows = names.loc[names.index.repeat(names.key.str.len())].copy()
    sig_rows["pos"] = sig_rows.groupby(level=0).cumcount() + 1
    sig_rows["sig"] = [k[:p - 1] + k[p:]
                       for k, p in zip(sig_rows.key, sig_rows.pos)]
    m70 = sig_rows.merge(sig_rows, on=["pos", "sig"])
    m70 = m70[m70.c_custkey_x < m70.c_custkey_y]
    d70_dists = [_lev(a, b) for a, b in zip(m70.key_x, m70.key_y)]
    _ = (len(d70_dists), sum(1 for d in d70_dists if d <= 1))
    timings["d70_edit_distance_blocking"] = round(
        time.perf_counter() - t0, 3)

    # --- d71: depth-2 deletion neighborhoods over md5-derived keys ---
    import hashlib

    t0 = time.perf_counter()
    base = customer[["c_custkey"]].copy()
    base["key"] = [hashlib.md5(n.encode()).hexdigest()[:20]
                   for n in customer.c_name]
    ali = base[base.c_custkey % 4 == 0].copy()

    def _edit(row_id: int, key: str) -> str:
        p1 = (row_id * 7) % len(key)
        op = (row_id // 4) % 3
        k1 = (key[:p1] + "q" + key[p1 + 1:] if op == 0 else
              key[:p1] + key[p1 + 1:] if op == 1 else
              key[:p1] + "x" + key[p1:])
        if row_id % 8 == 0:
            p2 = (row_id * 13) % max(len(k1) - 1, 1)
            if p2 == p1:
                p2 += 1
            k1 = k1[:p2] + "z" + k1[p2 + 1:]
        return k1

    ali["key"] = [_edit(i, k) for i, k in zip(ali.c_custkey, ali.key)]
    ali["c_custkey"] += 10_000_000
    corpus71 = pd.concat([base, ali], ignore_index=True)

    def _variants(key: str) -> list[str]:
        d1 = {key} | {key[:i] + key[i + 1:] for i in range(len(key))}
        return list({v[:j] + v[j + 1:] for v in d1
                     for j in range(len(v))} | d1)

    v71 = corpus71.loc[corpus71.index.repeat(
        [len(_variants(k)) for k in corpus71.key])].copy()
    v71["sig"] = [s for k in corpus71.key for s in _variants(k)]
    m71 = v71.merge(v71, on="sig")
    m71 = m71[m71.c_custkey_x < m71.c_custkey_y] \
        .drop_duplicates(["c_custkey_x", "c_custkey_y"])
    d71_dists = [_lev(a, b) for a, b in zip(m71.key_x, m71.key_y)]
    _ = sum(1 for d in d71_dists if d <= 2)
    timings["d71_fuzzy_dedup_depth2"] = round(time.perf_counter() - t0, 3)

    # --- q101: malformed-JSON quarantine routing ---
    import json as _json

    t0 = time.perf_counter()
    ev101 = events[["event_id", "event_type", "props"]].copy()
    sel7 = ev101.event_id % 7

    def _payload(row_mod: int, props: str) -> str | None:
        if row_mod == 0:
            return props[:max(len(props) - 2, 1)]
        if row_mod == 1:
            return "null"
        return props

    verdicts, ks = [], []
    for mod7, props in zip(sel7, ev101.props):
        payload = _payload(mod7, props)
        try:
            v = _json.loads(payload)
        except (ValueError, TypeError):
            verdicts.append("malformed")
            ks.append(0)
            continue
        if v is None:
            verdicts.append("json_null")
            ks.append(0)
        else:
            verdicts.append("value")
            k = v.get("k") if isinstance(v, dict) else None
            ks.append(k if isinstance(k, int) and
                      not isinstance(k, bool) else 0)
    ev101.assign(verdict=verdicts, k=ks).groupby(
        ["event_type", "verdict"]).agg(n_rows=("k", "size"),
                                       sum_k=("k", "sum"))
    timings["q101_try_parse_json_quarantine"] = round(
        time.perf_counter() - t0, 3)

    # --- q102: seeded synthetic generation + invariants ---
    import numpy as np

    t0 = time.perf_counter()
    rng = np.random.default_rng(42)
    u = rng.integers(0, 10000, size=100_000)
    alphabet = np.frombuffer(
        b"ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789",
        dtype="S1")
    s = rng.choice(alphabet, size=(100_000, 16))
    u2 = np.random.default_rng(42).integers(0, 10000, size=100_000)
    _ = (len(u), u.min() >= 0, u.max() <= 9999, s.shape,
         bool((u == u2).all()))
    timings["q102_seeded_synthetic_generator"] = round(
        time.perf_counter() - t0, 3)

    print(json.dumps({
        "metric": "pandas_singlenode_wall_seconds",
        "value": round(sum(timings.values()), 3),
        "unit": "sec", "queries": timings,
        "sf": float(m.group(1)) if m else -1.0,
    }))


if __name__ == "__main__":
    main()
