"""Property-based tests (hypothesis): invariants that must hold for *any*
input, not just the fixtures — the cheap way to catch edge cases a 100 TB
corpus will certainly contain (empty strings, unicode, huge values,
pathological timestamps).

Strategy note: one SparkSession round-trip per hypothesis example would be
minutes per property; instead each property generates a BATCH of examples,
runs them through the Spark expression once, and checks every row against
a pure-Python model. Same coverage, two orders of magnitude faster.
"""

from __future__ import annotations

import datetime as dt
import re

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from rtdl_spark.functions.buckets import PARTITION_TIMES, partition_bucket
from rtdl_spark.functions.pii import PHONE_RE, SSN_RE, mask_pii_col
from rtdl_spark.functions.text import HASH_P, jaccard, shingles, token_hash

TS = st.datetimes(
    min_value=dt.datetime(1970, 1, 2), max_value=dt.datetime(2100, 12, 30)
)


@settings(max_examples=10, deadline=None)
@given(st.lists(TS, min_size=1, max_size=40))
def test_partition_bucket_shapes(spark, tss):
    """Every grain yields a non-null bucket matching its lexical shape for
    any timestamp, and daily buckets sort identically to the timestamps
    (the property pruning relies on)."""
    df = spark.createDataFrame([(t,) for t in tss], "ts timestamp").select(
        "ts", *[partition_bucket(F.col("ts"), g).alias(g) for g in PARTITION_TIMES]
    )
    shapes = {
        "hourly": r"^\d{4}-\d{2}-\d{2}-\d{2}$",
        "daily": r"^\d{4}-\d{2}-\d{2}$",
        "weekly": r"^\d{4}-\d{1,2}$",
        "monthly": r"^\d{4}-\d{2}$",
        "quarterly": r"^\d{4}-[1-4]$",
    }
    rows = df.collect()
    for r in rows:
        for g, pat in shapes.items():
            assert r[g] is not None and re.match(pat, r[g]), (g, r[g], r["ts"])
    day_pairs = sorted((r["ts"], r["daily"]) for r in rows)
    assert [d for _, d in day_pairs] == sorted(d for _, d in day_pairs)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(blacklist_categories=("Cs",)), max_size=60
        ),
        min_size=1,
        max_size=40,
    )
)
def test_pii_mask_total_and_idempotent(spark, texts):
    """Masking removes every SSN/phone pattern for arbitrary text, and
    masking twice equals masking once (idempotence — chain-safe, A22)."""
    df = spark.createDataFrame([(t,) for t in texts], "s string").select(
        "s",
        mask_pii_col(F.col("s")).alias("m1"),
        mask_pii_col(mask_pii_col(F.col("s"))).alias("m2"),
    )
    ssn = re.compile(SSN_RE)
    phone = re.compile(PHONE_RE)
    for r in df.collect():
        assert not ssn.search(r["m1"]), r
        assert not phone.search(r["m1"]), r
        assert r["m1"] == r["m2"], r


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.lists(
            st.text(alphabet="abcdefg ", min_size=0, max_size=8).map(
                lambda s: s.replace(" ", "x")
            ),
            max_size=12,
        ),
        min_size=2,
        max_size=20,
    )
)
def test_jaccard_bounds_and_identity(spark, token_lists):
    """0 ≤ J ≤ 1; J(a, a) = 1 for non-empty distinct sets; J is symmetric.
    Checked via the Spark expression against python sets."""
    rows = [
        (i, sorted(set(ts))) for i, ts in enumerate(token_lists)
    ]
    df = spark.createDataFrame(rows, "id long, tk array<string>")
    a = df.select(F.col("id").alias("ida"), F.col("tk").alias("ta"))
    b = df.select(F.col("id").alias("idb"), F.col("tk").alias("tb"))
    out = a.join(b).withColumn("j", jaccard(F.col("ta"), F.col("tb"))).collect()
    for r in out:
        sa, sb = set(r["ta"]), set(r["tb"])
        if not sa and not sb:
            assert r["j"] is None  # 0/0 — filtered by callers
            continue
        expected = len(sa & sb) / len(sa | sb)
        assert abs(r["j"] - expected) < 1e-12, r
        if r["ida"] == r["idb"] and sa:
            assert r["j"] == 1.0


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=1, max_codepoint=127),
            min_size=0,
            max_size=20,
        ),
        min_size=1,
        max_size=50,
    )
)
def test_token_hash_matches_python_model(spark, toks):
    """The SQL-reproducible polynomial hash equals the pure-Python model
    (the same fold the DuckDB oracles run) for arbitrary ASCII tokens."""

    def model(s: str) -> int:
        h = 0
        for ch in s:
            h = (h * 31 + ord(ch)) % HASH_P
        return h

    df = spark.createDataFrame([(t,) for t in toks], "t string").select(
        "t", token_hash(F.col("t")).alias("h")
    )
    for r in df.collect():
        assert r["h"] == model(r["t"]), (r["t"], r["h"])


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.lists(
            st.text(alphabet="abcde", min_size=1, max_size=4),
            min_size=0,
            max_size=10,
        ),
        min_size=1,
        max_size=30,
    )
)
def test_shingles_match_python_model(spark, docs):
    """3-shingling (distinct, ordered-window) equals the python model for
    any token sequence, including the <3-token empty-array guard."""
    texts = [" ".join(toks) for toks in docs]
    df = spark.createDataFrame([(t,) for t in texts], "text string").select(
        "text", shingles(F.col("text"), 3).alias("sh")
    )
    for r in df.collect():
        toks = r["text"].split(" ")
        if len(toks) >= 3:
            expected = list(
                dict.fromkeys(
                    " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
                )
            )
        else:
            expected = []
        assert r["sh"] == expected, (r["text"], r["sh"], expected)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(blacklist_categories=("Cs",), min_codepoint=1),
            max_size=40,
        ),
        min_size=1,
        max_size=25,
    )
)
def test_minhash_kernels_agree_on_arbitrary_text(spark, texts):
    """The numpy MinHash kernel and the Catalyst expression path must agree
    byte-for-byte on arbitrary unicode text — not just the fixtures. Any
    divergence silently changes LSH buckets, i.e. which duplicates are
    found, so this is a correctness property, not a style check."""
    from rtdl_spark.functions.minhash_np import minhash_band_keys_np
    from rtdl_spark.functions.text import (
        lsh_band_keys,
        minhash_signature,
        shingles,
    )

    df = spark.createDataFrame([(t,) for t in texts], "text string").select(
        "text",
        lsh_band_keys(minhash_signature(shingles(F.col("text"), 3))).alias("e"),
        minhash_band_keys_np(F.col("text"), 3).alias("p"),
    )
    for r in df.collect():
        assert r["e"] == r["p"], (r["text"], r["e"], r["p"])


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.lists(
            st.floats(
                min_value=-100, max_value=100,
                allow_nan=False, allow_infinity=False, width=32,
            ),
            min_size=8,
            max_size=8,
        ),
        min_size=1,
        max_size=30,
    )
)
def test_rp_lsh_keys_match_numpy_model(spark, vecs):
    """RP-LSH bucket keys for arbitrary vectors equal the straight numpy
    model (same seeded planes): n_tables keys per vector, table-prefixed,
    stable across executors — the property candidate generation relies on."""
    import numpy as np

    from rtdl_spark.functions.rp_lsh import planes_for, rp_lsh_bucket_keys

    n_tables, n_bits, seed = 4, 5, 7
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "id long, v array<float>"
    ).select(
        "id", "v", rp_lsh_bucket_keys(F.col("v"), n_tables, n_bits, seed).alias("k")
    )
    p = planes_for(8, n_tables, n_bits, seed)
    weights = (1 << np.arange(n_bits, dtype=np.int64))[::-1]
    for r in df.collect():
        # float32 storage: model on the rounded values Spark returns
        m = np.asarray(r["v"], dtype=np.float64)
        bits = (m @ p.T) > 0
        codes = bits.reshape(n_tables, n_bits) @ weights
        expected = [f"{t}:{int(codes[t])}" for t in range(n_tables)]
        assert r["k"] == expected, (r["id"], r["k"], expected)


@settings(max_examples=5, deadline=None)
@given(
    st.data(),
)
def test_winnowing_shared_run_guarantee(spark, data):
    """The winnowing guarantee: two documents sharing a run of at least
    k+w-1 tokens (k=4, w=5 → 8) must share at least one fingerprint —
    regardless of the surrounding text. This is the property the
    partial-overlap dedup query relies on."""
    from rtdl_spark.functions.text import winnow_fingerprints

    tok = st.text(alphabet="abcdefgh", min_size=1, max_size=5)
    pairs = []
    for _ in range(10):
        shared = data.draw(st.lists(tok, min_size=8, max_size=12))
        pre1 = data.draw(st.lists(tok, min_size=0, max_size=10))
        post1 = data.draw(st.lists(tok, min_size=0, max_size=10))
        pre2 = data.draw(st.lists(tok, min_size=0, max_size=10))
        post2 = data.draw(st.lists(tok, min_size=0, max_size=10))
        pairs.append(
            (
                " ".join(pre1 + shared + post1),
                " ".join(pre2 + shared + post2),
            )
        )
    rows = [(i, a, b) for i, (a, b) in enumerate(pairs)]
    df = spark.createDataFrame(rows, "id long, a string, b string").select(
        "id",
        winnow_fingerprints(F.col("a"), 4, 5).alias("fa"),
        winnow_fingerprints(F.col("b"), 4, 5).alias("fb"),
    )
    for r in df.collect():
        assert set(r["fa"]) & set(r["fb"]), (r["id"], r["fa"], r["fb"])


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 24), st.integers(0, 24)),
        min_size=1,
        max_size=40,
    )
)
def test_connected_components_matches_union_find(spark, edges):
    """Distributed large-star/small-star agrees with a sequential
    union-find on arbitrary small graphs (self-loops, parallel edges,
    chains, stars — whatever hypothesis throws)."""
    from rtdl_spark.operators.components import connected_components

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    touched = set()
    for a, b in edges:
        if a != b:
            touched.update((a, b))
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    expected = {n: find(n) for n in touched}
    # min-id convention: re-root every tree at its component minimum
    comp_min: dict[int, int] = {}
    for n, r in expected.items():
        comp_min[r] = min(comp_min.get(r, n), n)
    expected = {n: comp_min[r] for n, r in expected.items()}

    df = spark.createDataFrame(edges, "id1 long, id2 long")
    got = {r["node"]: r["component"]
           for r in connected_components(df).collect()}
    assert got == expected


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "dd", "ee"]),
            min_size=0,
            max_size=12,
        ),
        min_size=1,
        max_size=12,
    )
)
def test_span_dedup_matches_python_model(spark, docs_tokens):
    """span_dedup against a pure-Python model on arbitrary small-vocab
    word docs (tiny vocabulary maximizes span collisions): identical
    clean_text / n_spans / n_kept for every document, including empty
    docs and heavy within- and cross-doc duplication."""
    from rtdl_spark.operators.dedup import span_dedup

    span_words = 2
    texts = [" ".join(toks) for toks in docs_tokens]
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["clean_text"], r["n_spans"], r["n_kept"])
        for r in span_dedup(df, span_words=span_words).collect()
    }

    # python model: same windows, global first-occurrence, reassembly
    seen = {}
    expected = {}
    spans_per_doc = {}
    for i, t in rows:
        toks = t.split(" ")
        n = max((len(toks) + span_words - 1) // span_words, 1)
        spans = [
            " ".join(toks[j * span_words : (j + 1) * span_words])
            for j in range(n)
        ]
        spans_per_doc[i] = spans
        for j, sp in enumerate(spans):
            seen.setdefault(sp, (i, j))
    for i, _ in rows:
        kept = [
            sp
            for j, sp in enumerate(spans_per_doc[i])
            if seen[sp] == (i, j)
        ]
        expected[i] = (
            " ".join(kept),
            len(spans_per_doc[i]),
            len(kept),
        )
    assert got == expected


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.text(alphabet="0123456789", min_size=0, max_size=24),
        min_size=1,
        max_size=40,
    )
)
def test_luhn_matches_python_model(spark, digit_strs):
    """luhn_valid (pure Catalyst) must agree with the textbook Python
    Luhn on arbitrary digit strings, including empty and odd lengths."""
    from rtdl_spark.functions.pii import luhn_valid

    def py_luhn(s: str) -> bool:
        if not s:
            return False
        total = 0
        for pos, ch in enumerate(reversed(s)):
            d = int(ch)
            if pos % 2 == 1:
                d *= 2
                if d > 9:
                    d -= 9
            total += d
        return total % 10 == 0

    df = spark.createDataFrame([(s,) for s in digit_strs], "d string")
    got = [
        r["ok"] for r in df.select(luhn_valid(F.col("d")).alias("ok")).collect()
    ]
    assert got == [py_luhn(s) for s in digit_strs]


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=2**40), min_size=1, max_size=60
    ),
    st.integers(min_value=0, max_value=1000),
)
def test_shard_assignment_is_partition_and_seed_pure(spark, ids, seed):
    """assign_shards: every id gets exactly one shard in [0, n); the
    assignment equals the pure-Python recomputation of the same hash
    formula (pure function of (seed, id) — cluster-layout independence
    by construction)."""
    import hashlib

    from rtdl_spark.operators.export import assign_shards

    n_shards = 5
    df = spark.createDataFrame([(i,) for i in set(ids)], "doc_id long")
    rows = assign_shards(df, "doc_id", n_shards, seed).collect()

    def py_shard(i: int) -> int:
        md = hashlib.md5(f"{seed}:{i}".encode()).hexdigest()
        h = 0
        for ch in md:
            h = (h * 31 + ord(ch)) % HASH_P
        return h % n_shards

    assert len(rows) == len(set(ids))
    for r in rows:
        assert 0 <= r["shard_id"] < n_shards
        assert r["shard_id"] == py_shard(r["doc_id"]), r["doc_id"]


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-(2**62), max_value=2**62),
        min_size=1,
        max_size=60,
        unique=True,
    )
)
def test_assign_sequential_ids_matches_enumerate_model(spark, keys):
    """For ANY unique int64 keys (full range — the overflow trap), the
    bucket-offset ids equal 1 + rank in sorted order (the pure-Python
    model of ROW_NUMBER OVER (ORDER BY k))."""
    from rtdl_spark.operators.curation import assign_sequential_ids

    df = spark.createDataFrame([(k,) for k in keys], "k long")
    got = {
        r["k"]: r["row_id"]
        for r in assign_sequential_ids(df, "k", n_buckets=7).collect()
    }
    want = {k: i + 1 for i, k in enumerate(sorted(keys))}
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),
            st.integers(min_value=0, max_value=9),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_triangle_count_matches_bruteforce(spark, raw_edges):
    """For ANY small multigraph (self-loops, duplicates, reversed edges),
    the degree-oriented wedge count equals brute-force triple
    enumeration."""
    from itertools import combinations

    from rtdl_spark.operators.graph import triangle_count

    edges = {(min(a, b), max(a, b)) for a, b in raw_edges if a != b}
    if not edges:
        return
    nodes = sorted({n for e in edges for n in e})
    want = sum(
        1
        for x, y, z in combinations(nodes, 3)
        if (x, y) in edges and (y, z) in edges and (x, z) in edges
    )
    df = spark.createDataFrame(list(raw_edges), ["src", "dst"])
    got = triangle_count(df).first()["n_triangles"]
    assert got == want, (sorted(edges), got, want)


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 14), st.integers(0, 14)),
        min_size=0,
        max_size=40,
    ),
    k=st.integers(1, 4),
)
@settings(max_examples=12, deadline=None)
def test_k_core_matches_bruteforce_peeling(spark, edges, k):
    """k_core == sequential peeling on arbitrary small graphs, including
    cascades (removing a node drops a neighbor under k later)."""
    from rtdl_spark.operators.graph import k_core

    simple = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    adj: dict[int, set[int]] = {}
    for a, b in simple:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    # brute-force peel
    changed = True
    while changed:
        changed = False
        for n in list(adj):
            if len(adj[n]) < k:
                for m in adj[n]:
                    adj[m].discard(n)
                del adj[n]
                changed = True
    want = {n: len(ns) for n, ns in adj.items()}

    if not simple:
        df = spark.createDataFrame([(0, 0)], "src long, dst long").filter(
            "src > 99"
        )
    else:
        df = spark.createDataFrame(
            [(a, b) for a, b in simple], "src long, dst long"
        )
    got = {r.node: r.degree for r in k_core(df, k).collect()}
    assert got == want


@settings(max_examples=30, deadline=None)
@given(
    st.integers(min_value=1, max_value=23),
    st.integers(min_value=1, max_value=17),
    st.sampled_from([1, 3]),
    st.binary(min_size=0, max_size=23 * 17 * 3),
    st.sampled_from(["ppm", "bmp", "png-0", "png-1", "png-2", "png-3", "png-4"]),
)
def test_imagecodec_roundtrip_property(w, h, channels, pixels, codec):
    """PPM, BMP and compressed PNG (under every scanline filter)
    encode→parse is the identity on (w, h, channels, zero-padded pixels)
    for ARBITRARY dimensions — including 1-pixel images, widths that hit
    every BMP row-padding residue (w*ch % 4), and payloads
    shorter/longer than the pixel buffer."""
    from rtdl_spark.functions.imagecodec import (
        make_bmp,
        make_png,
        make_ppm,
        parse_bmp,
        parse_png,
        parse_ppm,
    )

    n = w * h * channels
    want = pixels[:n] + bytes(max(n - len(pixels), 0))
    if codec == "ppm":
        enc, dec = make_ppm, parse_ppm
    elif codec == "bmp":
        enc, dec = make_bmp, parse_bmp
    else:
        ft = int(codec.split("-")[1])
        enc = lambda p, w_, h_, c_: make_png(p, w_, h_, c_, filter_type=ft)  # noqa: E731
        dec = parse_png
    assert dec(enc(pixels, w, h, channels)) == (w, h, channels, want)


@settings(max_examples=20, deadline=None)
@given(
    st.integers(min_value=1, max_value=19),
    st.integers(min_value=1, max_value=19),
    st.integers(min_value=1, max_value=8),
    st.integers(min_value=1, max_value=8),
    st.binary(min_size=0, max_size=19 * 19),
)
def test_resize_nearest_properties(src_w, src_h, out_w, out_h, pixels):
    """Nearest-neighbor resample invariants for arbitrary dims: output
    size is exact, every output pixel VALUE exists at its floor-division
    source index, and identity dims return the input unchanged."""
    from rtdl_spark.functions.imagecodec import resize_nearest

    n = src_w * src_h
    pix = (pixels[:n] + bytes(max(n - len(pixels), 0)))[:n]
    out = resize_nearest(pix, src_w, src_h, 1, out_w, out_h)
    assert len(out) == out_w * out_h
    for y in range(out_h):
        for x in range(out_w):
            sy, sx = (y * src_h) // out_h, (x * src_w) // out_w
            assert out[y * out_w + x] == pix[sy * src_w + sx]
    assert resize_nearest(pix, src_w, src_h, 1, src_w, src_h) == pix


@settings(max_examples=20, deadline=None)
@given(st.binary(min_size=1, max_size=600))
def test_image_ahash_kernel_properties(payload):
    """Average-hash invariants for arbitrary payload bytes encoded as a
    16-wide P5 image (the query fixture shape): 60-bit range, exact
    determinism, and global-brightness invariance (adding a constant to
    every pixel that stays in range cannot flip any px-vs-mean bit when
    60·px−Σpx shifts uniformly... verified directly: hash equality)."""
    from rtdl_spark.functions.imagecodec import make_ppm
    from rtdl_spark.operators.multimodal import image_hash_bits

    ppm = make_ppm(payload, 16, max(len(payload) // 16, 1), 1)
    hv = image_hash_bits(ppm, "ppm", "ahash")
    assert 0 <= hv < (1 << 60)
    assert image_hash_bits(ppm, "ppm", "ahash") == hv
    # brightness shift: +c on every pixel shifts 60*px and sum by the
    # same 60*c, so every comparison 60*px > sum is preserved exactly
    if payload and max(payload) < 200:
        shifted = bytes(b + 55 for b in payload)
        n = (max(len(payload) // 16, 1)) * 16
        # only valid when padding stays identical (exact multiple of 16)
        if len(payload) == n:
            ppm2 = make_ppm(shifted, 16, len(payload) // 16, 1)
            assert image_hash_bits(ppm2, "ppm", "ahash") == hv


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.sampled_from(
            ["append", "overwrite", "merge", "delete", "update",
             "optimize", "ckpt", "restore", "upgrade"]
        ),
        min_size=2,
        max_size=7,
    )
)
def test_delta_native_stack_matches_log_model(
    spark, tmp_path_factory, ops
):
    """ANY sequence of append/overwrite/MERGE/DELETE WHERE/UPDATE
    WHERE/OPTIMIZE/checkpoint/RESTORE/protocol-upgrade against the
    NATIVE Delta writer yields, at EVERY committed version, exactly
    the rows a pure-Python model of the ops predicts — the strongest
    single correctness statement about the protocol implementation
    (covers commit ordering, tombstone replay, metaData replacement,
    dataChange=false rewrites, checkpoint-bounded replay with time
    travel across the checkpoint, restore's set-difference log
    surgery, and — after the 'upgrade' op lands a v3/v7
    v2Checkpoint-feature protocol — the V2 UUID-named checkpoint
    layout composing with all of the above (layout='auto' routes
    there) (r8). At every version the snapshot is also replayed with
    the checkpoint read both ways — pyarrow on the driver (local
    storage) and one Spark collect (remote storage) — and must agree."""
    import json as _json
    import os as _os

    from rtdl_spark.sources.delta_reader import (
        read_delta_native,
        snapshot_actions,
        snapshot_domains,
    )
    from rtdl_spark.sources.delta_writer import (
        delete_where_delta_native,
        merge_into_delta_native,
        optimize_delta_native,
        restore_delta_native,
        update_where_delta_native,
        write_checkpoint_native,
        write_delta_native,
    )
    from tests.test_checkpoint_read import _remote_fs

    root = str(tmp_path_factory.mktemp("delta_prop")) + "/t"

    def frame(pairs):
        return spark.createDataFrame(sorted(pairs.items()), "id long, v long")

    states: list[dict[int, int]] = []  # model: rows at each version
    cur: dict[int, int] = {}
    next_id = 0
    exists = False
    upgraded = False

    for op in ops:
        if op == "ckpt":
            if exists:
                # auto layout: classic before 'upgrade', V2 after
                write_checkpoint_native(spark, root)
            continue
        if op == "upgrade":
            if not exists or upgraded:
                continue
            # a foreign writer lands the v2Checkpoint feature protocol
            from rtdl_spark.sources.delta_reader import snapshot_control

            _, _, current, _ = snapshot_control(spark, root)
            with open(
                _os.path.join(
                    root, "_delta_log", f"{current + 1:020d}.json"
                ),
                "w",
            ) as f:
                f.write(_json.dumps({"commitInfo": {
                    "timestamp": 5, "operation": "UPGRADE"}}) + "\n")
                f.write(_json.dumps({"protocol": {
                    "minReaderVersion": 3, "minWriterVersion": 7,
                    "readerFeatures": ["v2Checkpoint"],
                    "writerFeatures": ["v2Checkpoint", "appendOnly",
                                       "invariants",
                                       "domainMetadata"]}}) + "\n")
            upgraded = True
            states.append(dict(cur))  # a commit with unchanged rows
            continue
        if op == "update":
            if not exists:
                continue
            res = update_where_delta_native(
                spark, root, "id % 5 = 0", {"v": "v + 1"}
            )
            model_hit = any(k % 5 == 0 for k in cur)
            assert (res["version"] is not None) == model_hit, ops
            if not model_hit:
                continue
            cur = {
                k: (v + 1 if k % 5 == 0 else v) for k, v in cur.items()
            }
            states.append(dict(cur))
            continue
        if op in ("append", "overwrite"):
            ids = {next_id: next_id * 10, next_id + 1: (next_id + 1) * 10}
            next_id += 2
            write_delta_native(
                spark, frame(ids), root,
                mode=op, checkpoint_interval=0,
            )
            cur = dict(ids) if op == "overwrite" else {**cur, **ids}
            exists = True
        elif op == "merge":
            if not exists:
                continue
            upd = {k: -k for k in sorted(cur)[:1]}  # update lowest key
            ins = {next_id: next_id * 10}
            next_id += 1
            res = merge_into_delta_native(
                spark, root, frame({**upd, **ins}), on=["id"]
            )
            assert res["version"] is not None
            cur = {**cur, **upd, **ins}
        elif op == "delete":
            if not exists:
                continue
            res = delete_where_delta_native(spark, root, "id % 3 = 0")
            model_hit = any(k % 3 == 0 for k in cur)
            assert (res["version"] is not None) == model_hit, ops
            if not model_hit:
                continue
            cur = {k: v for k, v in cur.items() if k % 3 != 0}
        elif op == "optimize":
            if not exists:
                continue
            res = optimize_delta_native(spark, root, min_files=2)
            if res["version"] is None:
                continue  # nothing worth compacting: no commit, no state
        elif op == "restore":
            if not exists or len(states) < 2:
                continue
            target = len(states) // 2  # a deterministic mid-history version
            res = restore_delta_native(spark, root, target)
            if target == len(states) - 1:
                # restoring to the CURRENT version is a no-op by
                # contract: no commit, no new state (surfaced by the
                # r8 alphabet growth — ['append','append','restore'])
                assert res["version"] is None, ops
                continue
            assert res["version"] is not None, ops
            cur = dict(states[target])
        states.append(dict(cur))

    for ver, want in enumerate(states):
        got = {
            r["id"]: r["v"]
            for r in read_delta_native(spark, root, version=ver).collect()
        }
        assert got == want, (ops, ver)
        # the driver checkpoint read (local storage) and the Spark one
        # (remote storage) replay to the same snapshot at every version
        local = (snapshot_actions(spark, root, version=ver),
                 snapshot_domains(spark, root, version=ver))
        with _remote_fs(spark):
            assert (snapshot_actions(spark, root, version=ver),
                    snapshot_domains(spark, root, version=ver)) == local, (
                ops, ver)


_DML_PREDICATES = [
    "id % 3 = 0",
    "id < 10",
    "p = '1'",
    "nullif(id % 4, 0) > 1",
    "id % 5 = 0 OR p = '2'",
    "id >= 100",
]
_DML_SETS = [
    {"id": "id + 100"},
    {"p": "'9'"},
    {"id": "id * 2", "p": "cast(id % 2 AS string)"},
    {"p": "concat(p, 'x')", "id": "id + length(p)"},
]


def _dml_modes_table(spark, root):
    """30 rows, 3 partitions, on a table with deletion vectors, CDF and
    row tracking all on. The rows land after the upgrade, so every file
    carries a baseRowId; v0 is an empty seed."""
    import json as _json
    import os as _os

    from rtdl_spark.sources.delta_reader import snapshot_actions
    from rtdl_spark.sources.delta_writer import write_delta_native

    def rows(n):
        return spark.range(0, n).select(
            "id", (F.col("id") % 3).cast("string").alias("p")
        )

    write_delta_native(
        spark, rows(0), root, partition_by=["p"], checkpoint_interval=0
    )
    _, meta, _, current, _ = snapshot_actions(spark, root)
    with open(
        _os.path.join(root, "_delta_log", f"{current + 1:020d}.json"), "w"
    ) as f:
        f.write(_json.dumps({"commitInfo": {
            "timestamp": 2, "operation": "UPGRADE"}}) + "\n")
        f.write(_json.dumps({"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["deletionVectors"],
            "writerFeatures": ["deletionVectors", "changeDataFeed",
                               "rowTracking", "domainMetadata",
                               "appendOnly", "invariants"]}}) + "\n")
        f.write(_json.dumps({"metaData": {**meta, "configuration": {
            "delta.enableDeletionVectors": "true",
            "delta.enableChangeDataFeed": "true",
        }}}) + "\n")
    return write_delta_native(
        spark, rows(30).repartition(2), root, checkpoint_interval=0
    )


@settings(max_examples=4, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(_DML_PREDICATES),
            st.one_of(st.none(), st.sampled_from(_DML_SETS)),
        ),
        min_size=1,
        max_size=3,
    )
)
def test_rewrite_and_dv_dml_agree(spark, tmp_path_factory, ops):
    """Copy-on-write and deletion-vector DELETE/UPDATE are two stage
    steps of one pipeline: on a DV + CDF + row-tracking table, any
    sequence of them leaves the same visible rows and emits the same
    change rows (``_change_type`` plus row, as a multiset) in either
    mode."""
    from rtdl_spark.sources.delta_reader import (
        read_delta_native,
        read_table_changes_cdf,
        snapshot_control,
    )
    from rtdl_spark.sources.delta_writer import (
        delete_where_delta_dv,
        delete_where_delta_native,
        update_where_delta_dv,
        update_where_delta_native,
    )

    base = tmp_path_factory.mktemp("dml_modes")
    seen = {}
    for mode, delete, update in (
        ("cow", delete_where_delta_native, update_where_delta_native),
        ("dv", delete_where_delta_dv, update_where_delta_dv),
    ):
        root = str(base / mode)
        start = _dml_modes_table(spark, root) + 1
        for cond, sets in ops:
            if sets is None:
                delete(spark, root, cond)
            else:
                update(spark, root, cond, sets)
        rows = sorted(
            (r["id"], r["p"]) for r in read_delta_native(spark, root).collect()
        )
        end = snapshot_control(spark, root)[2]
        changes = sorted(
            (r["_change_type"], r["id"], r["p"])
            for r in read_table_changes_cdf(
                spark, root, start, end
            ).collect()
        ) if end >= start else []
        seen[mode] = (rows, changes)
    assert seen["cow"] == seen["dv"], ops


@settings(max_examples=300, deadline=None)
@given(
    st.data(),
)
def test_skip_excludes_never_prunes_a_satisfying_value(data):
    """Soundness of the data-skipping interval logic for ANY (range,
    op, literal): whenever _skip_excludes says a file's [lo, hi] can be
    pruned, NO value in the range satisfies `value op lit` — checked
    against brute force over the range endpoints, the literal and its
    neighbors (the only places satisfaction can change for these
    operators). Completeness is NOT required (keeping extra files is
    always safe); soundness is what keeps results exact."""
    from rtdl_spark.sources.delta_reader import _skip_excludes

    lo = data.draw(st.integers(-50, 50))
    hi = data.draw(st.integers(lo, 51))
    lit = data.draw(st.integers(-55, 55))
    op = data.draw(
        st.sampled_from(["=", "==", "<", "<=", ">", ">=", "!=", "<>"])
    )
    candidates = {
        v for v in (lo, hi, lit - 1, lit, lit + 1) if lo <= v <= hi
    }

    def sat(v):
        if op in ("=", "=="):
            return v == lit
        if op == "<":
            return v < lit
        if op == "<=":
            return v <= lit
        if op == ">":
            return v > lit
        if op == ">=":
            return v >= lit
        return v != lit

    if _skip_excludes(op, lo, hi, lit):
        assert not any(sat(v) for v in candidates), (op, lo, hi, lit)


@settings(max_examples=200, deadline=None)
@given(st.data())
def test_skip_conjunct_split_preserves_and_semantics(data):
    """_skip_conjuncts: every returned piece must be a top-level AND
    conjunct — splitting never crosses parens or quotes, and any
    top-level OR disables decomposition (returns []). Verified by
    recombining the pieces with AND and checking the token stream
    matches the original minus the separators."""
    from rtdl_spark.sources.delta_reader import _skip_conjuncts

    atoms = data.draw(
        st.lists(
            st.sampled_from(
                [
                    "a = 1",
                    "b < 'x AND y'",
                    "(c = 2 OR d = 3)",
                    "f(x, 'p AND q') >= 7",
                    "s LIKE 'k%'",
                ]
            ),
            min_size=1,
            max_size=4,
        )
    )
    joiner = data.draw(st.sampled_from([" AND ", " and ", " AnD "]))
    where = joiner.join(atoms)
    parts = _skip_conjuncts(where)
    assert parts == [a.strip() for a in atoms], (where, parts)
    # a top-level OR anywhere disables conjunct pruning entirely
    assert _skip_conjuncts(where + " OR a = 9") == []
