"""Contract tests for the training-data ops (dedup / similarity /
text-stats / multimodal) — the pytest side of the rows-only oracles."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMALL, SF_TINY


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_TINY}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_TINY}/embeddings.parquet")


def test_minhash_equals_exact_jaccard(spark, docs, monkeypatch):
    """Both physical strategies == the exact jaccard ground truth.

    minhash_dedup picks its strategy from a vocab probe; the default
    takes the dense bitset kernel on this corpus, and DENSE_VOCAB_LIMIT
    = 0 forces the LSH band+verify pipeline, so both are pinned to the
    inverted-index exact result (values included).
    """
    from text_ocr_spark.ops import dedup
    from text_ocr_spark.ops.dedup import jaccard_pairs, minhash_dedup

    exact = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in jaccard_pairs(docs, 0.95).collect()
    }
    dense = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in minhash_dedup(docs).collect()
    }
    monkeypatch.setattr(dedup, "DENSE_VOCAB_LIMIT", 0)
    lsh = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in minhash_dedup(docs).collect()
    }
    assert dense == exact
    assert lsh == exact
    assert len(exact) > 0  # the corpus actually contains near-dups


def test_minhash_signature_determinism():
    from text_ocr_spark.ops.dedup import _minhash_signature

    a = _minhash_signature("the quick brown fox".split())
    b = _minhash_signature("fox brown quick the".split())  # order-free
    assert (a == b).all()
    c = _minhash_signature("the quick brown cat".split())
    assert (a != c).any()


def test_simhash_pairs_are_near_dups(spark, docs):
    """Every hamming<=3 pair must share a high token-set jaccard — simhash
    is a near-dup detector, not a random pairer."""
    from text_ocr_spark.ops.dedup import jaccard_pairs, simhash_pairs

    sh = simhash_pairs(docs).collect()
    assert len(sh) > 0
    loose = {
        (r.doc_a, r.doc_b) for r in jaccard_pairs(docs, 0.80).collect()
    }
    hits = sum(1 for r in sh if (r.doc_a, r.doc_b) in loose)
    assert hits / len(sh) >= 0.9


def test_simhash_finds_pair_differing_in_three_bands(spark):
    """The worst case the radius allows: hamming 3 with one differing
    bit in each of three 16-bit bands, so only the fourth band joins
    the pair. The texts are found by appending one token to a base
    text until the driver-side simhash shows that shape."""
    from text_ocr_spark.ops.dedup import _simhash, simhash_pairs

    base = [f"w{i}" for i in range(60)]
    h0 = _simhash(base)
    for j in range(1000):
        extra = f"x{j}"
        diff = _simhash(base + [extra]) ^ h0
        bits = [b for b in range(64) if diff >> b & 1]
        if len(bits) == 3 and len({b // 16 for b in bits}) == 3:
            break
    else:
        pytest.fail("no three-band hamming-3 variant found")
    docs = spark.createDataFrame(
        [(0, " ".join(base)), (1, " ".join(base + [extra])),
         (2, "unrelated words entirely")],
        "doc_id long, text string",
    )
    got = {tuple(r) for r in simhash_pairs(docs).collect()}
    assert (0, 1, 3) in got


def test_simhash_radius_must_stay_below_bands(spark, monkeypatch):
    """A radius of SIMHASH_BANDS would miss a pair with one differing
    bit in every band (no band equal), so simhash_pairs refuses it."""
    from text_ocr_spark.ops import dedup

    docs = spark.createDataFrame([(0, "a b")], "doc_id long, text string")
    monkeypatch.setattr(dedup, "SIMHASH_RADIUS", dedup.SIMHASH_BANDS)
    with pytest.raises(ValueError, match="SIMHASH_RADIUS=4"):
        dedup.simhash_pairs(docs)


def test_exact_dedup_keeps_min_id(spark, docs):
    from text_ocr_spark.ops.dedup import exact_dedup

    out = exact_dedup(docs).collect()
    assert len(out) == docs.count()
    for r in out:
        assert r.keep_id <= r.doc_id
        assert r.is_dup == (1 if r.doc_id != r.keep_id else 0)


def test_embed_pairs_exact(spark, emb):
    """Blocked-GEMM cosine near-dup == driver-side numpy brute force."""
    import numpy as np

    from text_ocr_spark.ops.dedup import embed_pairs

    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    norm = np.sqrt((mat * mat).sum(axis=1))
    cos = (mat @ mat.T) / (norm[:, None] * norm[None, :])
    expect = set()
    for i in range(len(ids)):
        for j in range(len(ids)):
            if ids[i] < ids[j] and cos[i, j] >= 0.35:
                expect.add((int(ids[i]), int(ids[j]), round(cos[i, j], 6)))
    got = {(r.vec_a, r.vec_b, r.cos) for r in embed_pairs(emb).collect()}
    assert got == expect
    assert len(got) > 0


def test_ivf_topk_recall(spark, emb):
    """Probe search must return true top-k members of the probed cells
    and recall a meaningful share of the brute-force neighbors."""
    from text_ocr_spark.ops.similarity import brute_topk, ivf_topk

    brute = {(r.query_id, r.neighbor_id) for r in brute_topk(emb).collect()}
    approx = [(r.query_id, r.neighbor_id) for r in ivf_topk(emb).collect()]
    assert len(approx) > 0
    hits = sum(1 for p in approx if p in brute)
    # probing 2/8 cells of a near-random corpus: expect solid overlap
    assert hits >= len(approx) // 4
    # ranks are dense 1..k per query
    per_q = {}
    for r in ivf_topk(emb).collect():
        per_q.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per_q.values())


def test_frame_sample_windows(spark, docs):
    """Frame rows are exact byte windows: offsets on the stride grid,
    hashes matching a driver-side recompute."""
    import hashlib

    from text_ocr_spark.ops.multimodal import frame_sample

    frames = frame_sample(docs).collect()
    assert len(frames) > 0
    raw = {
        r.doc_id: (r.text or "").encode("utf-8")
        for r in docs.select("doc_id", "text").collect()
    }
    for r in frames[:200]:
        assert r.offset % 512 == 0 and r.frame_idx == r.offset // 512
        want = hashlib.md5(raw[r.doc_id][r.offset : r.offset + 256]).hexdigest()[:16]
        assert r.sha16 == want


def test_ivf_assign_total(spark, emb):
    from text_ocr_spark.ops.similarity import ivf_assign

    out = ivf_assign(emb).collect()
    assert len(out) == emb.count()
    # centroids assign to themselves (cos(v,v)=1 is the max)
    self_assign = {r.vec_id: r.centroid_id for r in out if r.vec_id < 8}
    assert self_assign == {i: i for i in range(8)}


def test_multimodal_features_deterministic(spark, docs):
    from text_ocr_spark.ops.multimodal import media_features

    a = media_features(docs).orderBy("doc_id").collect()
    b = media_features(docs.repartition(7)).orderBy("doc_id").collect()
    assert a == b
    assert all(64 <= r.width < 256 and r.feat_dim == 16 for r in a)


def test_decode_image_is_stubbed():
    from text_ocr_spark.ops.multimodal import decode_image

    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG")


def test_quality_score_bounds(spark, docs):
    from text_ocr_spark.ops.text_stats import quality_score

    out = quality_score(docs).collect()
    assert all(0.0 <= r.quality <= 1.0 for r in out)
    assert {r.bucket for r in out} <= {"high", "medium", "low"}


def test_media_resize_dims(spark, docs):
    """Aspect-preserving resize math: bounded by max_side, ratio kept."""
    from text_ocr_spark.ops.multimodal import media_resize

    out = media_resize(docs).collect()
    assert len(out) > 0
    for r in out:
        assert 1 <= r.out_w <= 64 and 1 <= r.out_h <= 64
        assert max(r.out_w, r.out_h) == 64  # sources are >= 64px fakes
        want_ratio = r.width / r.height
        got_ratio = r.out_w / r.out_h
        assert abs(want_ratio - got_ratio) / want_ratio < 0.1


def test_dense_tiles_multiblock_regression(spark, docs, emb, monkeypatch):
    """Forced small blocks (many cross-block tiles) must equal the
    single-block result — guards the cross-tile pair-orientation bug
    that only appears at multi-block scale."""
    import numpy as np

    from text_ocr_spark.ops import dedup
    from text_ocr_spark.ops.dedup import (
        _dense_jaccard_pairs,
        _probe_corpus,
        _toks_of,
        embed_pairs,
        jaccard_pairs,
    )

    from pyspark.sql import functions as F

    from text_ocr_spark.ops.dedup import tokens_col

    vocab, _, n_docs, _f2 = _probe_corpus(
        docs.select(
            "doc_id", F.col("doc_id").alias("key"), tokens_col().alias("toks")
        ),
        4096,
    )
    assert vocab is not None
    exact = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in jaccard_pairs(docs, 0.95).collect()
    }
    multi = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in _dense_jaccard_pairs(docs, 0.95, vocab, n_docs, block_size=64).collect()
    }
    assert multi == exact

    single = {
        (r.vec_a, r.vec_b, r.cos) for r in embed_pairs(emb).collect()
    }
    monkeypatch.setattr(dedup, "DENSE_BLOCK", 64)
    multi_e = {
        (r.vec_a, r.vec_b, r.cos) for r in embed_pairs(emb).collect()
    }
    assert multi_e == single and len(single) > 0


def test_boilerplate_collapse_kills_hot_bands(spark, monkeypatch):
    """One text duplicated k=512 times (the 100 TB boilerplate regime,
    VERDICT r2 top item): band-join candidate rows must be O(k) — here
    O(#distinct texts) — never the O(k^2)=130816 hot-bucket explosion,
    while the expanded pair output stays complete (all k(k-1)/2 pairs at
    jaccard 1.0) and resolution yields one cluster. Forced LSH route
    (DENSE_VOCAB_LIMIT = 0) per the scale-only-bug protocol."""
    import pandas as pd

    from text_ocr_spark.ops import dedup
    from text_ocr_spark.ops.dedup import (
        minhash_candidates,
        minhash_dedup,
        neardup_resolve,
        simhash_pairs,
    )

    k = 512
    boiler = "terms of service apply to all mirrors of this web page " * 3
    rows = [(i, boiler) for i in range(k)] + [
        (k + i, f"unique document {i} alpha{i} beta{i} gamma{i} delta{i} eps{i}")
        for i in range(8)
    ]
    docs512 = spark.createDataFrame(
        pd.DataFrame({"doc_id": [r[0] for r in rows],
                      "text": [r[1] for r in rows]})
    )

    # rep-level candidates: the 512-copy group contributes ONE node
    n_cand = minhash_candidates(docs512).count()
    assert n_cand <= 9 * 8 // 2  # bounded by distinct-text pairs, << k^2

    monkeypatch.setattr(dedup, "DENSE_VOCAB_LIMIT", 0)
    pairs = minhash_dedup(docs512)
    n_boiler_pairs = pairs.filter(
        (pairs.doc_a < k) & (pairs.doc_b < k) & (pairs.jaccard == 1.0)
    ).count()
    assert n_boiler_pairs == k * (k - 1) // 2  # expansion is complete

    resolved = neardup_resolve(docs512)
    verdicts = {r.doc_id: (r.cluster_id, r.is_dup) for r in resolved.collect()}
    assert verdicts[0] == (0, 0)
    assert all(verdicts[i] == (0, 1) for i in range(1, k))
    assert all(verdicts[k + i][1] == 0 for i in range(8))

    # simhash: same collapse; intra-group pairs all present at hamming 0
    sh = simhash_pairs(docs512)
    n_h0 = sh.filter((sh.doc_a < k) & (sh.doc_b < k) & (sh.hamming == 0)).count()
    assert n_h0 == k * (k - 1) // 2


@pytest.mark.parametrize("seed", [3, 11, 42])
def test_collapse_expansion_invariant_random_corpora(spark, seed):
    """Tail coverage for the collapse/expand algebra: random corpora
    mixing exact-dup groups (skewed sizes), near-dup variants, and
    unique docs — minhash_dedup on BOTH routes must equal the exact
    inverted-index ground truth, and neardup_resolve must equal a
    driver union-find over that ground truth."""
    import random

    import pandas as pd

    from text_ocr_spark.ops import dedup
    from text_ocr_spark.ops.dedup import (
        jaccard_pairs,
        minhash_dedup,
        neardup_resolve,
    )

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(400)]
    rows: list[tuple[int, str]] = []
    nid = 0
    for _ in range(rng.randint(4, 7)):
        base = rng.sample(vocab, rng.randint(25, 60))
        k = rng.choice([1, 1, 2, 3, 8])  # skewed exact-dup group sizes
        text = " ".join(base)
        for _ in range(k):
            rows.append((nid, text))
            nid += 1
        if rng.random() < 0.7:  # a near-dup variant (drop one token)
            rows.append((nid, " ".join(base[:-1])))
            nid += 1
    rng.shuffle(rows)
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [r[0] for r in rows],
                      "text": [r[1] for r in rows]})
    )

    exact = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in jaccard_pairs(docs, 0.95).collect()
    }
    for limit in (0, 4096):  # forced LSH / adaptive (dense here)
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(dedup, "DENSE_VOCAB_LIMIT", limit)
            got = {
                (r.doc_a, r.doc_b, r.jaccard)
                for r in minhash_dedup(docs).collect()
            }
        assert got == exact, f"route limit={limit}"

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, _ in exact:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp_min: dict[int, int] = {}
    for v in parent:
        root = find(v)
        comp_min[root] = min(comp_min.get(root, v), v)
    want = {}
    for did, _ in rows:
        keep = comp_min[find(did)] if did in parent else did
        want[did] = (keep, keep, int(did != keep))
    got_r = {
        r.doc_id: (r.cluster_id, r.keep_id, r.is_dup)
        for r in neardup_resolve(docs).collect()
    }
    assert got_r == want


def test_null_text_docs_stay_singletons(spark):
    """NULL-text docs must neither vanish from the verdicts (NULL md5
    keys never equi-join — review finding r3) nor cluster with each
    other (null is not a text; the SQL oracles keep them singleton)."""
    import pandas as pd

    from text_ocr_spark.ops.dedup import (
        collapse_exact,
        minhash_dedup,
        neardup_resolve,
    )

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [None, None, "alpha beta gamma delta", "alpha beta gamma delta"],
        }
    )
    docs = spark.createDataFrame(pdf)
    reps, members = collapse_exact(docs)
    assert members.count() == 4  # nobody dropped
    assert reps.count() == 3  # two nulls = two singleton groups, one text pair

    pairs = {(r.doc_a, r.doc_b) for r in minhash_dedup(docs).collect()}
    assert pairs == {(3, 4)}  # no null-null pair

    got = {
        r.doc_id: (r.cluster_id, r.is_dup)
        for r in neardup_resolve(docs).collect()
    }
    assert got == {1: (1, 0), 2: (2, 0), 3: (3, 0), 4: (3, 1)}


def test_degenerate_single_column_horizontal_stays_pdf():
    """One tall glyph per line at a fixed left margin LOOKS columnar by
    flow but its glyphs are taller than wide — the aspect guard must
    keep it on the pdf route (review finding r3), while a genuine
    vertical dump (wide, rotated glyph boxes) still routes vertical."""
    from text_ocr_spark.kernels.classify import classify_payload

    degenerate = "\n".join(
        f"G 10.0 {14.0 * i:.1f} 6.0 10.0 {ch}" for i, ch in enumerate("abcdef")
    )
    assert classify_payload(degenerate) == "pdf"
    genuine = "\n".join(
        f"G 10.0 {14.0 * i:.1f} 10.0 6.0 {ch}" for i, ch in enumerate("abcdef")
    )
    assert classify_payload(genuine) == "vertical"


def test_simhash_rep_banding_sees_one_row_per_group(spark):
    """The banded self-join input after collapse is one simhash per
    DISTINCT text: rep-level pair count is bounded by distinct texts."""
    import pandas as pd

    from text_ocr_spark.ops.dedup import _simhash_rep_pairs, collapse_exact

    rows = [(i, "same boilerplate everywhere") for i in range(64)] + [
        (100 + i, f"very different text number {i} zeta{i}") for i in range(4)
    ]
    docs64 = spark.createDataFrame(
        pd.DataFrame({"doc_id": [r[0] for r in rows],
                      "text": [r[1] for r in rows]})
    )
    reps, members = collapse_exact(docs64)
    assert reps.count() == 5
    assert members.count() == 68
    assert _simhash_rep_pairs(reps).count() <= 5 * 4 // 2


def test_minhash_auxiliary_actions_bounded(spark, docs, monkeypatch):
    """Auxiliary-action budget (VERDICT r2 item 5, r4 dup-rate gate,
    r5 exact probe): a minhash_dedup CALL triggers exactly ONE exact
    group-stats pass as a driver-blocking auxiliary action — it feeds
    the collapse gate AND the dense size cap — plus, ONLY when the rep
    count leaves the dense kernel possible, a vocab HLL pre-filter and
    (small vocab only) the bounded vocab collect. Counted by patching
    the DataFrame action surface (AQE splits one action into several
    jobs, so job counts are not the honest unit)."""
    from text_ocr_spark.ops import dedup
    from text_ocr_spark.ops.dedup import minhash_dedup

    cls = type(docs)  # the RUNTIME class (pyspark.sql.classic.DataFrame)
    calls: list[str] = []
    depth = {"d": 0}
    for name in ("first", "head", "take", "collect", "count", "toPandas"):
        orig = getattr(cls, name)

        def wrap(self, *a, _orig=orig, _name=name, **kw):
            top = depth["d"] == 0
            depth["d"] += 1
            try:
                return _orig(self, *a, **kw)
            finally:
                depth["d"] -= 1
                if top:
                    calls.append(_name)

        monkeypatch.setattr(cls, name, wrap)

    with pytest.MonkeyPatch.context() as mp:
        # forced LSH, adaptive collapse: exactly the one exact-stats probe
        mp.setattr(dedup, "DENSE_VOCAB_LIMIT", 0)
        minhash_dedup(docs)
        assert len(calls) == 1
        calls.clear()
        # stats + vocab HLL pre-filter (which says big vocab, no collect)
        mp.setattr(dedup, "DENSE_VOCAB_LIMIT", 4)
        minhash_dedup(docs)
        assert len(calls) == 2
        calls.clear()
    minhash_dedup(docs)  # adaptive; dense on this corpus
    assert len(calls) <= 3


def test_default_routes_pinned(spark, monkeypatch):
    """Every default route decision of the dedup family at sf0.01, as
    measured: unigram minhash_dedup and neardup_resolve take the dense
    kernel (31-token vocabulary) without the collapse, 3-shingle
    minhash_dedup takes LSH banding (16.2k shingles) without the
    collapse, simhash_pairs skips the collapse, and the pretrain
    capstone's neardup_resolve over the stripped corpus takes the
    dense kernel with the collapse engaged. Spies on the route
    builders record which ones each call plans."""
    from text_ocr_spark.ops import dedup
    from text_ocr_spark.ops.curate import _pretrain_gate, _pretrain_strip

    dense, lsh, collapse = (
        "_dense_jaccard_pairs", "_band_candidates", "collapse_exact"
    )
    taken: list[str] = []
    for name in (dense, lsh, collapse):

        def spy(*a, _orig=getattr(dedup, name), _name=name, **kw):
            taken.append(_name)
            return _orig(*a, **kw)

        monkeypatch.setattr(dedup, name, spy)

    def route(op, frame, **kw) -> set[str]:
        taken.clear()
        op(frame, **kw)
        return set(taken)

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    assert route(dedup.minhash_dedup, docs) == {dense}
    assert route(dedup.neardup_resolve, docs) == {dense}
    assert route(dedup.minhash_dedup, docs, ngram=3) == {lsh}
    assert route(dedup.simhash_pairs, docs) == set()
    # the capstone's stage barriers, so resolve_pairs' own actions do
    # not re-run the extraction
    gated = _pretrain_gate(spark, SF_SMALL).localCheckpoint(eager=False)
    stripped = _pretrain_strip(gated).localCheckpoint(eager=False)
    assert route(dedup.neardup_resolve, stripped) == {collapse, dense}


def test_embed_prefilter_recall_at_many_blocks(spark, emb, monkeypatch):
    """DENSE_BLOCK=16 => 30+ blocks: the cross-block collision recall is
    exercised far past EXHAUSTIVE_BLOCK_LIMIT and must still be exact on
    this corpus (ADVICE r2: recall assertion beyond the 8-block case).
    The default limit engages the prefilter here; a raised limit forces
    the exhaustive tiles."""
    from text_ocr_spark.ops import dedup
    from text_ocr_spark.ops.dedup import embed_pairs

    monkeypatch.setattr(dedup, "DENSE_BLOCK", 16)
    pre = {(r.vec_a, r.vec_b, r.cos) for r in embed_pairs(emb).collect()}
    monkeypatch.setattr(dedup, "EXHAUSTIVE_BLOCK_LIMIT", 1 << 30)
    exhaustive = {
        (r.vec_a, r.vec_b, r.cos) for r in embed_pairs(emb).collect()
    }
    assert pre == exhaustive
    assert len(exhaustive) > 0


def test_neardup_resolve_matches_union_find(spark, docs):
    """Distributed min-label propagation == a driver-side union-find over
    the same pair graph (independent differential), and the resolve
    output mirrors exact_dedup's keep semantics for near-dups."""
    from text_ocr_spark.ops.dedup import minhash_dedup, resolve_pairs

    pairs = minhash_dedup(docs)
    got = {
        r.doc_id: (r.cluster_id, r.keep_id, r.is_dup)
        for r in resolve_pairs(docs, pairs).collect()
    }

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in pairs.collect():
        ra, rb = find(r.doc_a), find(r.doc_b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp_min: dict[int, int] = {}
    for v in parent:
        root = find(v)
        comp_min[root] = min(comp_min.get(root, v), v)
    all_ids = [r.doc_id for r in docs.select("doc_id").collect()]
    want = {}
    for v in all_ids:
        keep = comp_min[find(v)] if v in parent else v
        want[v] = (keep, keep, int(v != keep))
    assert got == want
    assert sum(v[2] for v in got.values()) > 0  # corpus has near-dups


def test_resolve_pairs_transitive_chain(spark):
    """A--B and B--C (no direct A--C pair) must land in ONE cluster —
    the transitivity that pair output alone cannot express."""
    from text_ocr_spark.ops.dedup import resolve_pairs

    docs = spark.createDataFrame([(1,), (2,), (3,), (9,)], "doc_id long")
    pairs = spark.createDataFrame([(2, 3), (1, 2)], "doc_a long, doc_b long")
    got = {
        r.doc_id: (r.cluster_id, r.is_dup)
        for r in resolve_pairs(docs, pairs).collect()
    }
    assert got == {1: (1, 0), 2: (1, 1), 3: (1, 1), 9: (9, 0)}


def test_resolve_pairs_one_partition_needs_no_rounds(spark, monkeypatch):
    """A small edge set lands in one partition, where the local
    union-find already emits the final stars: the star-forest check
    passes on the initial edges and no contraction round runs."""
    from text_ocr_spark.ops import dedup

    calls = []
    large_star = dedup._large_star

    def counting(e):
        calls.append(1)
        return large_star(e)

    monkeypatch.setattr(dedup, "_large_star", counting)
    docs = spark.createDataFrame([(1,), (2,), (3,), (9,)], "doc_id long")
    pairs = spark.createDataFrame([(2, 3), (1, 2)], "doc_a long, doc_b long")
    got = {
        r.doc_id: (r.cluster_id, r.is_dup)
        for r in dedup.resolve_pairs(docs, pairs).collect()
    }
    assert got == {1: (1, 0), 2: (1, 1), 3: (1, 1), 9: (9, 0)}
    assert len(calls) == 0


def test_resolve_pairs_refuses_unconverged_edges(spark, monkeypatch):
    """Edges that are still no star forest when the round cap is hit
    raise instead of emitting labels that are not component minima."""
    from text_ocr_spark.ops import dedup

    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    prior = spark.conf.get(coalesce_key)
    monkeypatch.setattr(dedup, "STAR_MAX_ROUNDS", 0)
    path = list(range(100))
    docs = spark.createDataFrame([(x,) for x in path], "doc_id long")
    pairs = spark.createDataFrame(
        list(zip(path, path[1:])), "doc_a long, doc_b long"
    ).repartition(4)
    spark.conf.set(coalesce_key, "false")
    try:
        with pytest.raises(RuntimeError, match="did not converge"):
            dedup.resolve_pairs(docs, pairs)
    finally:
        spark.conf.set(coalesce_key, prior)


def test_embed_prefilter_matches_exhaustive(spark, emb, monkeypatch):
    """LSH candidate-block tile enumeration loses nothing on the real
    corpus (small blocks, and EXHAUSTIVE_BLOCK_LIMIT = 0 so the
    prefilter actually routes)."""
    from text_ocr_spark.ops import dedup
    from text_ocr_spark.ops.dedup import embed_pairs

    monkeypatch.setattr(dedup, "DENSE_BLOCK", 64)
    exhaustive = {
        (r.vec_a, r.vec_b, r.cos) for r in embed_pairs(emb).collect()
    }
    monkeypatch.setattr(dedup, "EXHAUSTIVE_BLOCK_LIMIT", 0)
    pre = {(r.vec_a, r.vec_b, r.cos) for r in embed_pairs(emb).collect()}
    assert pre == exhaustive
    assert len(exhaustive) > 0


def test_embed_prefilter_prunes_antipodal_blocks(spark, monkeypatch):
    """Antipodal vectors agree with NO sign-random-projection plane, so
    their (singleton) blocks never share a bucket: the candidate join
    must enumerate fewer than the blanket B(B+1)/2 tiles, and the pair
    output is still exact (antipodal cos = -1 is below any threshold)."""
    import pandas as pd

    from text_ocr_spark.ops import dedup
    from text_ocr_spark.ops.dedup import _candidate_block_pairs, embed_pairs
    from pyspark.sql import functions as F

    base = [1.0, -2.0, 0.5, 3.0] * 16  # dim 64, no zero plane dots
    rows = [(i, [x if i % 2 == 0 else -x for x in base]) for i in range(8)]
    emb = spark.createDataFrame(
        pd.DataFrame({"vec_id": [r[0] for r in rows],
                      "embedding": [r[1] for r in rows]})
    ).select("vec_id", F.col("embedding").cast("array<float>").alias("embedding"))
    n_blocks = 8  # DENSE_BLOCK=1 -> singleton blocks
    cand = _candidate_block_pairs(
        emb, F.pmod(F.xxhash64("vec_id"), F.lit(n_blocks))
    ).count()
    assert cand < n_blocks * (n_blocks + 1) // 2
    monkeypatch.setattr(dedup, "DENSE_BLOCK", 1)
    ex = {(r.vec_a, r.vec_b) for r in embed_pairs(emb).collect()}
    monkeypatch.setattr(dedup, "EXHAUSTIVE_BLOCK_LIMIT", 0)
    pre = {(r.vec_a, r.vec_b) for r in embed_pairs(emb).collect()}
    assert pre == ex
    # same-sign pairs all have cos = 1: 4+4 vectors -> 6+6 pairs
    assert len(ex) == 12


def test_embed_resolve_clusters_embed_pairs(spark, emb):
    """Cluster verdicts agree with a driver-side union-find over the
    exact embed pair graph."""
    from text_ocr_spark.ops.dedup import embed_pairs, embed_resolve

    pairs = [(r.vec_a, r.vec_b) for r in embed_pairs(emb).collect()]
    got = {
        r.vec_id: (r.cluster_id, r.is_dup)
        for r in embed_resolve(emb).collect()
    }

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    roots: dict[int, int] = {}
    for v in parent:
        r = find(v)
        roots[r] = min(roots.get(r, v), v)
    for r_ in emb.select("vec_id").collect():
        v = r_.vec_id
        keep = roots[find(v)] if v in parent else v
        assert got[v] == (keep, int(v != keep))


def test_resolve_pairs_random_graphs_and_long_path(spark, monkeypatch):
    """Star-contraction CC vs a driver union-find on random graphs, plus
    the adversarial long-path graph that breaks O(diameter) algorithms
    (200-node path must resolve in O(log n) rounds, well under the
    iteration cap). Every case runs twice: as is, then ``spread`` with
    partition coalescing off and the edges split over several
    partitions, so the local union-find leaves work for the contraction
    rounds and the star-forest stop."""
    import itertools
    import random

    from text_ocr_spark.ops import dedup

    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    prior = spark.conf.get(coalesce_key)
    rounds = {False: 0, True: 0}
    large_star = dedup._large_star

    def counting(e):
        rounds[spread] += 1
        return large_star(e)

    monkeypatch.setattr(dedup, "_large_star", counting)

    rng = random.Random(7)
    cases = []
    for _ in range(4):
        n = rng.randint(2, 60)
        m = rng.randint(0, 2 * n)
        nodes = list(range(1000, 1000 + n))
        edges = [
            tuple(rng.sample(nodes, 2)) for _ in range(m)
        ]
        cases.append((nodes, edges))
    # long path: worst case for label propagation
    path_nodes = list(range(5000, 5200))
    cases.append((path_nodes, list(zip(path_nodes, path_nodes[1:]))))

    for spread, (nodes, edges) in itertools.product((False, True), cases):
        docs = spark.createDataFrame([(x,) for x in nodes], "doc_id long")
        pairs = (
            spark.createDataFrame(edges, "doc_a long, doc_b long")
            if edges
            else spark.createDataFrame([], "doc_a long, doc_b long")
        )
        if spread:
            spark.conf.set(coalesce_key, "false")
            pairs = pairs.repartition(4)
        try:
            got = {
                r.doc_id: r.cluster_id
                for r in dedup.resolve_pairs(docs, pairs).collect()
            }
        finally:
            spark.conf.set(coalesce_key, prior)

        parent = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        comp = {}
        for v in nodes:
            comp.setdefault(find(v) if v in parent else v, []).append(v)
        want = {}
        for members in comp.values():
            mn = min(members)
            for v in members:
                want[v] = mn
        assert got == want, (spread, len(nodes), len(edges))
    assert rounds[True] > 0  # spread edges leave work for the rounds


def test_collapse_gate_skips_on_low_dup_corpora(spark, docs, caplog):
    """r4 dup-rate gate (VERDICT r3 item 1): a corpus of distinct texts
    skips the exact-dup collapse (logged — no silent strategy change),
    the dup-heavy fixture corpus engages it, and forced-on vs forced-off
    (``_gate_collapse`` patched) are output-identical on BOTH corpora —
    the gate is a physical decision, never a semantic one."""
    import logging

    from pyspark.sql import functions as F

    from text_ocr_spark.ops import dedup
    from text_ocr_spark.ops.dedup import (
        minhash_dedup,
        neardup_resolve,
        simhash_pairs,
    )

    lowdup = (
        docs.groupBy("text")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", "text")
    )
    logger = "text_ocr_spark.ops.dedup"

    def skipped() -> bool:
        return any("SKIPPED" in r.getMessage() for r in caplog.records)

    def forced(collapse: bool, op, *args):
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(dedup, "_gate_collapse", lambda *_: collapse)
            return {tuple(r) for r in op(*args).collect()}

    with caplog.at_level(logging.INFO, logger=logger):
        caplog.clear()
        auto = {
            (r.doc_a, r.doc_b, r.jaccard)
            for r in minhash_dedup(lowdup).collect()
        }
        assert skipped()  # zero-dup corpus: gate skips
        forced_on = forced(True, minhash_dedup, lowdup)
        forced_off = forced(False, minhash_dedup, lowdup)
        assert auto == forced_on == forced_off

        # the fixture documents corpora are (nearly) dup-free, so the
        # production default on them is ALSO skip — the bench claw-back.
        # Build a genuinely dup-heavy corpus (every text duplicated,
        # rate 0.5) for the engage direction:
        heavy = docs.unionByName(
            docs.withColumn("doc_id", F.col("doc_id") + 100000)
        )
        caplog.clear()
        auto_h = {
            (r.doc_a, r.doc_b, r.jaccard)
            for r in minhash_dedup(heavy).collect()
        }
        assert not skipped()  # 50%-dup corpus: collapse engages

        # forced-off still equals forced-on at a high dup rate (the
        # algebra holds in both directions at any dup rate)
        off = forced(False, minhash_dedup, heavy)
        assert auto_h == off and len(off) > 0

        sh_on = forced(True, simhash_pairs, heavy)
        sh_off = forced(False, simhash_pairs, heavy)
        assert sh_on == sh_off and len(sh_on) > 0

        rs_on = forced(True, neardup_resolve, heavy)
        rs_off = forced(False, neardup_resolve, heavy)
        assert rs_on == rs_off


def test_shingle_mode_sees_word_order(spark):
    """w-shingles (ngram > 1) are order-sensitive where token sets are
    not: two docs with the same vocabulary in different order score 1.0
    under token sets but < 1.0 under 3-shingles; identical docs score
    1.0 under both; short docs (< n tokens) fall back to one whole-doc
    shingle so identical short docs still pair."""
    import pandas as pd

    from text_ocr_spark.ops import dedup
    from text_ocr_spark.ops.dedup import jaccard_pairs, minhash_dedup

    words = [f"w{i}" for i in range(40)]
    fwd = " ".join(words)
    rev = " ".join(reversed(words))
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3, 4, 5, 6],
            "text": [fwd, rev, fwd, "tiny doc", "tiny doc", "doc tiny", None],
        }
    )
    docs = spark.createDataFrame(pdf)

    uni = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in minhash_dedup(docs, ngram=1).collect()
    }
    # token sets: reordered doc is a "perfect" dup — the failure mode
    assert uni[(0, 1)] == 1.0 and uni[(0, 2)] == 1.0
    assert uni[(3, 4)] == 1.0 and uni[(3, 5)] == 1.0  # tiny reorder too

    tri = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in minhash_dedup(docs, ngram=3).collect()
    }
    assert (0, 1) not in tri  # shingles see the reordering
    assert all(6 not in p for p in tri) and all(6 not in p for p in uni)
    # (NULL-text doc pairs with nothing under either tokenizer)
    assert tri[(0, 2)] == 1.0  # identical docs still pair
    assert tri[(3, 4)] == 1.0  # identical short docs: whole-doc shingle
    assert (3, 5) not in tri  # reordered short docs do not

    # shingled minhash == shingled exact jaccard (ground truth parity,
    # including the sub-n whole-doc fallback), on both forced routes
    exact = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in jaccard_pairs(docs, 0.95, ngram=3).collect()
    }
    for limit in (0, 4096):
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(dedup, "DENSE_VOCAB_LIMIT", limit)
            got = {
                (r.doc_a, r.doc_b, r.jaccard)
                for r in minhash_dedup(docs, ngram=3).collect()
            }
        assert got == exact, f"route limit={limit}"


def test_ngram_must_be_a_positive_int(spark, docs):
    """A threshold passed positionally where ``ngram`` now sits, or a
    zero window, raises instead of silently tokenizing unigrams."""
    from text_ocr_spark.ops.decontam import decontaminate
    from text_ocr_spark.ops.dedup import minhash_dedup

    with pytest.raises(ValueError, match="ngram must be a positive int"):
        minhash_dedup(docs, 0.8)
    with pytest.raises(ValueError, match="ngram must be a positive int"):
        decontaminate(docs, docs, ngram=0)


def test_ivf_train_objective_and_golden(spark, monkeypatch):
    """VERDICT r3 item 4: distributed Lloyd's k-means. (a) the trained
    centroids strictly improve the k-means objective (mean max-cosine to
    the assigned centroid) over the vec_id<8 placeholder AND over the
    1-iteration prefix (monotone-improvement property of Lloyd's);
    (b) the trained assignment is bit-identical to the committed
    pure-Python golden (md5-seeded init + exact int64 fixed-point means
    make the whole training deterministic); (c) assignment cells are
    non-degenerate. Recall at fixed n_probe is deliberately NOT asserted
    to improve: on this near-random corpus balanced trained cells scan
    exactly n_probe/k of the data, while the unbalanced placeholder
    cells let queries scan far more — the efficiency, not the recall,
    is the win, and the docstring of ivf_train says so."""
    import pandas as pd

    from pyspark.sql import functions as F

    from text_ocr_spark.ops import similarity
    from text_ocr_spark.ops.similarity import (
        cosine_col,
        ivf_assign,
        ivf_train,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")

    def objective(cent):
        a = ivf_assign(emb, centroids=cent)
        j = (
            emb.join(a, "vec_id")
            .join(
                cent.withColumnRenamed("centroid_id", "cid"),
                F.col("centroid_id") == F.col("cid"),
            )
        )
        return j.select(F.avg(cosine_col("embedding", "cv")).alias("o")).first()["o"]

    placeholder = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").cast("array<double>").alias("cv"),
    )
    four = ivf_train(emb)  # the defaults: KMEANS_K=8, KMEANS_ITERS=4
    monkeypatch.setattr(similarity, "KMEANS_ITERS", 1)
    one = ivf_train(emb)
    o_p, o_1, o_4 = objective(placeholder), objective(one), objective(four)
    assert o_1 > o_p  # one Lloyd step already beats raw seed vectors
    assert o_4 >= o_1  # Lloyd's objective is monotone
    assert o_4 > o_p + 0.05  # materially better, not ulp noise

    got = ivf_assign(emb, centroids=four).orderBy("vec_id").toPandas()
    want = pd.read_parquet("fixturedata/golden_ivf_train_sf0.01.parquet")
    assert (got["vec_id"].to_numpy() == want["vec_id"].to_numpy()).all()
    assert (
        got["centroid_id"].to_numpy() == want["centroid_id"].to_numpy()
    ).all()
    sizes = got["centroid_id"].value_counts()
    assert len(sizes) == 8 and sizes.min() > 0  # no empty trained cell


def test_collapse_gate_null_heavy_corpus(spark, caplog):
    """Review finding r4: Spark's xxhash64(NULL) is the seed constant
    (never NULL), so the probe key must branch on isNull() explicitly —
    a null-heavy corpus of otherwise-distinct texts has dup rate 0
    (every null doc is its own singleton rep) and must take the gate's
    skip path, not read as dup-heavy."""
    import logging

    import pandas as pd

    from text_ocr_spark.ops.dedup import minhash_dedup

    n = 60
    pdf = pd.DataFrame(
        {
            "doc_id": list(range(2 * n)),
            "text": [None] * n
            + [f"distinct document number {i} alpha{i} beta{i}" for i in range(n)],
        }
    )
    docs = spark.createDataFrame(pdf)
    with caplog.at_level(logging.INFO, logger="text_ocr_spark.ops.dedup"):
        caplog.clear()
        pairs = minhash_dedup(docs).collect()
        assert any("SKIPPED" in r.getMessage() for r in caplog.records)
    assert pairs == []  # nulls pair with nothing, texts are distinct


def test_probe_f2_excess_estimates_hot_pair_mass(spark):
    """The probe returns sum_g c_g*(c_g-1) — the per-band quadratic
    candidate-pair mass of exact-dup groups — EXACTLY (r5: the
    groupBy(key) probe replaced the AMS sketch), on BOTH probe branches
    (forced and tokenized). One 200-copy group among 4000 distinct
    docs: excess 200*199 = 39,800."""
    import pandas as pd

    from pyspark.sql import functions as F

    from text_ocr_spark.ops.dedup import _probe_corpus, _probe_frame

    pdf = pd.DataFrame(
        {
            "doc_id": list(range(4200)),
            "text": ["boilerplate terms of service apply here"] * 200
            + [f"unique text {i} {i * 31} {i * 17} {i * 101}" for i in range(4000)],
        }
    )
    docs = spark.createDataFrame(pdf)
    true_excess = 200 * 199
    for limit in (0, 4096):  # forced branch, tokenized branch
        _, n_reps, n_docs, f2x = _probe_corpus(_probe_frame(docs), limit)
        assert n_docs == 4200
        assert n_reps == 4001
        assert f2x == true_excess, (limit, f2x)
    # dup-free control: excess is exactly 0
    singles = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": list(range(4000)),
                "text": [f"only one copy {i} {i * 7}" for i in range(4000)],
            }
        )
    )
    _, n_reps, n_docs, f2x = _probe_corpus(_probe_frame(singles), 0)
    assert (n_reps, n_docs, f2x) == (4000, 4000, 0)


def test_hot_group_engages_collapse_at_low_dup_rate(spark, caplog, monkeypatch):
    """The r3 rate-gate blind spot is closed: one 300-copy exact-dup
    group hiding among 15,500 distinct docs (dup rate 1.9% — under the
    2% rate gate) trips the hot-pair-mass statistic
    (300*299 = 89,700 >= max(2^16, n_docs)), so the collapse ENGAGES
    and the k^2 band bucket never forms; output is identical to the
    forced-skip run (the collapse is a physical choice only)."""
    import logging

    import pandas as pd

    from text_ocr_spark.ops import dedup
    from text_ocr_spark.ops.dedup import minhash_dedup

    k, n = 300, 15_500
    pdf = pd.DataFrame(
        {
            "doc_id": list(range(k + n)),
            "text": ["boilerplate terms of service apply to every doc"] * k
            + [f"unique text {i} {i * 31} {i * 17} {i * 101}" for i in range(n)],
        }
    )
    docs = spark.createDataFrame(pdf)
    with caplog.at_level(logging.INFO, logger="text_ocr_spark.ops.dedup"):
        caplog.clear()
        got = {
            (r.doc_a, r.doc_b)
            for r in minhash_dedup(docs).collect()
        }
        assert any(
            "ENGAGED by hot-pair mass" in r.getMessage() for r in caplog.records
        )
    monkeypatch.setattr(dedup, "_gate_collapse", lambda *_: False)
    want = {
        (r.doc_a, r.doc_b)
        for r in minhash_dedup(docs).collect()
    }
    assert got == want
    assert len(got) == k * (k - 1) // 2  # exactly the mega-group's pairs


def test_ivf_trained_recall_on_clustered_corpus(spark, monkeypatch):
    """The regime IVF exists for: a corpus with REAL cluster structure.
    The placeholder centroids (vec_id < 8 = eight noisy points of ONE
    cluster) cannot route probes; trained Lloyd's centroids recover the
    cluster geometry and lift recall@5 vs brute force. (The fixture
    embeddings are near-random, where recall at fixed n_probe cannot
    improve — test_ivf_train_objective_and_golden documents that; THIS
    corpus is the positive control. Deterministic: seeded generator +
    md5-seeded, fixed-point-exact training.)"""
    import numpy as np

    from text_ocr_spark.ops import similarity
    from text_ocr_spark.ops.similarity import brute_topk, ivf_topk, ivf_train

    rng = np.random.default_rng(7)
    centers = rng.normal(size=(8, 16)) * 2.0
    rows = []
    for i in range(400):
        label = i // 50  # queries 0..9 and placeholder 0..7 all cluster 0
        v = centers[label] + rng.normal(size=16) * 0.25
        rows.append((i, [float(x) for x in v], label))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )

    brute = {(r.query_id, r.neighbor_id) for r in brute_topk(emb).collect()}

    def recall(cent):
        got = {
            (r.query_id, r.neighbor_id)
            for r in ivf_topk(emb, centroids=cent).collect()
        }
        return len(got & brute) / len(brute)

    r_p = len(
        {
            (r.query_id, r.neighbor_id)
            for r in ivf_topk(emb).collect()  # placeholder centroids
        }
        & brute
    ) / len(brute)
    monkeypatch.setattr(similarity, "KMEANS_ITERS", 6)
    trained = ivf_train(emb)
    r_t = recall(trained)
    assert r_t >= 0.9, (r_p, r_t)
    assert r_t > r_p + 0.2, (r_p, r_t)
