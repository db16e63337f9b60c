"""Generate committed golden fixtures for the ops whose oracles are not
SQL-expressible (blake2b-seeded simhash / decode stubs, deterministic
training replays). Pure Python + numpy over the driver's parquet
tables — no Spark involved, so these are genuine independent
differential oracles (same published spec, separate implementation),
exactly like scripts/gen_golden.py does for the extraction pipeline.

    python scripts/gen_op_golden.py [sf0.01 ...]

Writes once:
  fixturedata/langid_weights.parquet             (lang, b, w_micro)
and, per sf:
  fixturedata/golden_simhash_<sf>.parquet        (doc_a, doc_b, hamming)
  fixturedata/golden_media_features_<sf>.parquet (doc_id, media_type,
      n_bytes, width, height, feat_mean, feat_dim)
  fixturedata/golden_ivf_train_<sf>.parquet      (vec_id, centroid_id)
  fixturedata/golden_bpe_<sf>.parquet            (doc_id, n_bpe, bpe_joined)
  fixturedata/golden_langid_<sf>.parquet         (doc_id, n_grams, lang_pred,
      z_micro)
  fixturedata/golden_quality_clf_<sf>.parquet    (doc_id, n_tokens, z_micro,
      prob, keep)
  fixturedata/golden_semdedup_<sf>.parquet       (vec_id, centroid_id,
      cluster_id, keep_id, is_dup)
  fixturedata/golden_vertical_<sf>.parquet       (doc_id, kind, extracted,
      spans_json)

Floating-point discipline: cosines are computed as a LEFT-TO-RIGHT
sequential double fold over the array (acc += float64(a_i)*float64(b_i)),
the exact operation order of Spark's F.aggregate fold in
similarity.cosine_col — IEEE doubles make the two implementations
bit-identical, so integer rank outputs can be hash-compared.
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time
from collections import Counter

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

SIMHASH_BITS = 64


# --------------------------------------------------------------------------
# simhash (spec: ops/dedup.py _simhash — blake2b token hashes, count weights)
# --------------------------------------------------------------------------

def simhash(text: str) -> int:
    toks = (text or "").split()
    if not toks:
        return 0
    acc = [0] * SIMHASH_BITS
    for tok, cnt in Counter(toks).items():
        hv = int.from_bytes(
            hashlib.blake2b(tok.encode(), digest_size=8).digest(), "big"
        )
        for i in range(SIMHASH_BITS):
            acc[i] += cnt if (hv >> i) & 1 else -cnt
    out = 0
    for i in range(SIMHASH_BITS):
        if acc[i] > 0:
            out |= 1 << i
    return out


def golden_simhash(docs: pd.DataFrame, radius: int = 3) -> pd.DataFrame:
    """ALL-pairs hamming scan (the banded join is exact at radius<=3 by
    pigeonhole, so the exhaustive scan is its ground truth)."""
    ids = docs["doc_id"].to_numpy()
    sh = np.array(
        [simhash(t) for t in docs["text"]], dtype=np.uint64
    )
    xa, xb, hd = [], [], []
    for i in range(len(ids)):
        ham = np.bitwise_xor(sh[i], sh[i + 1 :])
        counts = np.array([bin(int(x)).count("1") for x in ham])
        for j in np.nonzero(counts <= radius)[0]:
            xa.append(int(ids[i]))
            xb.append(int(ids[i + 1 + j]))
            hd.append(int(counts[j]))
    out = pd.DataFrame({"doc_a": xa, "doc_b": xb, "hamming": hd})
    # orient to (min, max) and sort like the contract query
    a = out[["doc_a", "doc_b"]].min(axis=1)
    b = out[["doc_a", "doc_b"]].max(axis=1)
    out["doc_a"], out["doc_b"] = a, b
    return out.sort_values(["doc_a", "doc_b"]).reset_index(drop=True)


# --------------------------------------------------------------------------
# float64 cosine (spec: ops/similarity.py cosine_col)
# --------------------------------------------------------------------------

def seq_cosine(a: list[float], b: list[float]) -> float:
    """Left-to-right double fold — Spark's F.aggregate operation order."""
    dot = 0.0
    na = 0.0
    nb = 0.0
    for x, y in zip(a, b):
        dot += x * y
    for x in a:
        na += x * x
    for y in b:
        nb += y * y
    return dot / (math.sqrt(na) * math.sqrt(nb))


# --------------------------------------------------------------------------
# trained IVF assignment (spec: ops/similarity.py ivf_train + ivf_assign)
# --------------------------------------------------------------------------

KMEANS_SCALE = 1 << 24
KMEANS_K = 8
KMEANS_ITERS = 4


def _half_up(x: float) -> int:
    """Spark F.round(double, 0) semantics (HALF_UP, away from zero);
    exact for |x| < 2^51 where x +- 0.5 is representable."""
    return int(math.floor(x + 0.5)) if x >= 0 else int(math.ceil(x - 0.5))


def replay_kmeans(
    vecs: dict[int, list[float]], k: int = KMEANS_K, iters: int = KMEANS_ITERS
):
    """Pure-Python replay of ivf_train's deterministic Lloyd's loop:
    md5-seeded init, sequential-fold double cosine for every assignment
    (bit-identical to cosine_col), exact int64 fixed-point mean updates.
    -> (cents, assign) with assign(vid) the trained-cell id."""
    ids = sorted(vecs)
    seed_order = sorted(
        ids, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i)
    )
    cents = [list(vecs[i]) for i in seed_order[:k]]

    def assign(vid: int) -> int:
        scored = sorted(
            ((seq_cosine(vecs[vid], c), cid) for cid, c in enumerate(cents)),
            key=lambda x: (-x[0], x[1]),
        )
        return scored[0][1]

    for _ in range(iters):
        sums: dict[int, list[int]] = {}
        counts: dict[int, int] = {}
        for vid in ids:
            cid = assign(vid)
            acc = sums.setdefault(cid, [0] * len(vecs[vid]))
            for d, v in enumerate(vecs[vid]):
                acc[d] += _half_up(v * float(KMEANS_SCALE))
            counts[cid] = counts.get(cid, 0) + 1
        for cid, acc in sums.items():
            cents[cid] = [(q / counts[cid]) / KMEANS_SCALE for q in acc]
    return cents, assign


def _vec_map(emb: pd.DataFrame) -> dict[int, list[float]]:
    # float32 storage cast element-wise to float64, like Spark's
    # x.cast('double') inside the fold
    return {
        int(i): [float(np.float32(v)) for v in e]
        for i, e in zip(emb["vec_id"], emb["embedding"])
    }


def golden_ivf_train(emb: pd.DataFrame) -> pd.DataFrame:
    """Replay ivf_train end to end in pure Python, then the final
    ivf_assign against the trained centroids."""
    vecs = _vec_map(emb)
    _, assign = replay_kmeans(vecs)
    rows = [(vid, assign(vid)) for vid in sorted(vecs)]
    return pd.DataFrame(rows, columns=["vec_id", "centroid_id"])


# --------------------------------------------------------------------------
# SemDeDup (spec: ops/dedup.py semdedup — trained cells, within-cell
# cosine pairs, per-component keep = farthest-from-centroid member)
# --------------------------------------------------------------------------

SEMDEDUP_THRESHOLD = 0.35
SEMDEDUP_COS_SCALE = 1_000_000


def golden_semdedup(emb: pd.DataFrame) -> pd.DataFrame:
    """Replay semdedup end to end: replay_kmeans cells, per-cell numpy
    float64 cosine matrices (the same matmul the GEMM tile kernel runs;
    at sf0.01 every cell is one sub-block, so the tile set is exactly
    the per-cell matrix), union-find components, keep = min
    (micro-quantized seq_cosine-to-centroid, vec_id)."""
    vecs = _vec_map(emb)
    cents, assign = replay_kmeans(vecs)
    cent_of = {vid: assign(vid) for vid in vecs}
    cells: dict[int, list[int]] = {}
    for vid in sorted(vecs):
        cells.setdefault(cent_of[vid], []).append(vid)

    parent = {vid: vid for vid in vecs}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for members in cells.values():
        mat = np.array([vecs[v] for v in members], dtype=np.float64)
        norm = np.sqrt((mat * mat).sum(axis=1))
        cos = (mat @ mat.T) / (norm[:, None] * norm[None, :])
        ai, bi = np.nonzero(np.triu(cos >= SEMDEDUP_THRESHOLD, k=1))
        for a, b in zip(ai, bi):
            ra, rb = find(members[a]), find(members[b])
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)

    comp: dict[int, list[int]] = {}
    for vid in sorted(vecs):
        comp.setdefault(find(vid), []).append(vid)
    ccos = {
        vid: _half_up(
            seq_cosine(vecs[vid], cents[cent_of[vid]]) * SEMDEDUP_COS_SCALE
        )
        for vid in vecs
    }
    rows = []
    for members in comp.values():
        cl = min(members)
        keep = min(members, key=lambda v: (ccos[v], v))
        for v in members:
            rows.append((v, cent_of[v], cl, keep, int(v != keep)))
    rows.sort()
    return pd.DataFrame(
        rows,
        columns=["vec_id", "centroid_id", "cluster_id", "keep_id", "is_dup"],
    )


# --------------------------------------------------------------------------
# trained quality classifier (spec: ops/quality_clf.py — fixed-point
# logistic over hashed unigrams, fastText shape)
# --------------------------------------------------------------------------

QCLF_BUCKETS = 10_000
QCLF_ITERS = 8
QCLF_LR = 2.0
QCLF_SCALE = 1_000_000


def _qclf_tokens(text) -> list[str]:
    # exact Python replay of lm_tokens: WS_RE split + empty filter, NO
    # .strip() (Python strip removes the full Unicode whitespace class;
    # Spark trim is spaces-only and the split class covers it) — the
    # ADVICE r4 cross-engine whitespace discipline
    import re

    if text is None:
        return []
    return [
        t for t in re.split(r"[ \t\n\f\r]+", str(text).lower()) if t
    ]


def _qclf_bucket(tok: str) -> int:
    return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % QCLF_BUCKETS


def golden_quality_clf(docs: pd.DataFrame) -> pd.DataFrame:
    """Replay quality_train (pos = doc_id%11==0, neg = the disjoint
    doc_id%11!=0 & doc_id%3==0 slice) + quality_classify over the full
    corpus, in pure Python: exact int64 micro weights, per-term
    _half_up quantization, fixed epochs — the committed twin of the
    contract entry."""
    texts = {int(d): t for d, t in zip(docs["doc_id"], docs["text"])}
    feats = {}
    for d, t in texts.items():
        toks = _qclf_tokens(t)
        c = Counter(_qclf_bucket(tok) for tok in toks)
        feats[d] = (c, len(toks))

    labeled = []  # (counts, n, y)
    for d in sorted(texts):
        if d % 11 == 0:
            labeled.append((feats[d][0], feats[d][1], 1.0))
        elif d % 3 == 0:
            labeled.append((feats[d][0], feats[d][1], 0.0))
    featured = [(c, n, y) for c, n, y in labeled if n > 0]
    n_docs = len(featured)

    w: dict[int, int] = {}
    w0 = 0
    for _ in range(QCLF_ITERS):
        gsum: dict[int, int] = {}
        bias_g = 0
        for c, n, y in featured:
            s = sum(cnt * w.get(b, 0) for b, cnt in c.items())
            z = w0 / QCLF_SCALE + s / (n * float(QCLF_SCALE))
            sig = 1.0 / (1.0 + math.exp(-z))
            rq = _half_up((sig - y) * QCLF_SCALE)
            bias_g += rq
            for b, cnt in c.items():
                gsum[b] = gsum.get(b, 0) + _half_up(rq * cnt / n)
        for b, g in gsum.items():
            w[b] = w.get(b, 0) - _half_up(QCLF_LR * g / n_docs)
        w0 -= _half_up(QCLF_LR * bias_g / n_docs)

    rows = []
    for d in sorted(texts):
        c, n = feats[d]
        if n > 0:
            s = sum(cnt * w.get(b, 0) for b, cnt in c.items())
            z_micro = w0 + _half_up(s / n)
        else:
            z_micro = w0
        prob = (
            _half_up(
                (1.0 / (1.0 + math.exp(-(z_micro / QCLF_SCALE))))
                * QCLF_SCALE
            )
            / QCLF_SCALE
        )
        rows.append((d, n, z_micro, prob, int(z_micro >= 0)))
    return pd.DataFrame(
        rows, columns=["doc_id", "n_tokens", "z_micro", "prob", "keep"]
    )


# --------------------------------------------------------------------------
# learned BPE tokenizer (spec: ops/bpe.py — Sennrich merges over the
# word-frequency dictionary, then per-word encoding)
# --------------------------------------------------------------------------

BPE_MERGES = 40


def _bpe_merge_seq(syms: list, a: str, b: str) -> list:
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def golden_bpe(docs: pd.DataFrame) -> pd.DataFrame:
    """Independent replay of bpe_train (full dictionary — the fixture
    vocab is tiny, far under max_words) + bpe_tokenize: Sennrich merge
    loop over word frequencies (max count, lexicographic tie), greedy
    left-to-right pair merging, lowest-rank-first encoding. Tokens are
    joined by single spaces for the hash compare (BPE symbols never
    contain spaces). No imports from the implementation."""
    wc = Counter()
    for t in docs["text"]:
        wc.update(_qclf_tokens(t))

    vocab: dict[tuple, int] = {}
    for w, c in wc.items():
        syms = tuple(list(w[:-1]) + [w[-1] + "</w>"])
        vocab[syms] = vocab.get(syms, 0) + c
    merges = []
    for _ in range(BPE_MERGES):
        pc: Counter = Counter()
        for syms, c in vocab.items():
            for pair in zip(syms, syms[1:]):
                pc[pair] += c
        if not pc:
            break
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        vocab = {
            tuple(_bpe_merge_seq(list(s), *best)): c
            for s, c in vocab.items()
        }
    ranks = {p: i for i, p in enumerate(merges)}

    def encode(w: str) -> list:
        syms = list(w[:-1]) + [w[-1] + "</w>"]
        while len(syms) > 1:
            cand = [
                (ranks[(x, y)], i)
                for i, (x, y) in enumerate(zip(syms, syms[1:]))
                if (x, y) in ranks
            ]
            if not cand:
                break
            _, i = min(cand)
            syms[i : i + 2] = [syms[i] + syms[i + 1]]
        return syms

    rows = []
    memo: dict[str, list] = {}
    for d, t in zip(docs["doc_id"], docs["text"]):
        out = []
        for w in _qclf_tokens(t):
            if w not in memo:
                memo[w] = encode(w)
            out.extend(memo[w])
        rows.append((int(d), len(out), " ".join(out)))
    return pd.DataFrame(rows, columns=["doc_id", "n_bpe", "bpe_joined"])


# --------------------------------------------------------------------------
# vertical (columnar) extraction — E4 transpose route
# (spec: kernels/pdf.py extract_vertical over fixtures.build_vertical)
# --------------------------------------------------------------------------

def golden_vertical(docs: pd.DataFrame) -> pd.DataFrame:
    """Row-at-a-time replay of the vertical-route extraction for every
    pdf-kind doc at doc_id % 10 == 3 (same doc slice as the contract
    query); pure Python, no Spark."""
    from text_ocr_spark.fixtures import build_vertical
    from text_ocr_spark.oracle import extract_turn

    rows = []
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        if int(doc_id) % 10 != 3:
            continue
        payload = build_vertical(int(doc_id), text or "")
        kind, extracted, spans_json = extract_turn(payload, None)
        rows.append((int(doc_id), kind, extracted, spans_json))
    return pd.DataFrame(
        rows, columns=["doc_id", "kind", "extracted", "spans_json"]
    )


# --------------------------------------------------------------------------
# multimodal feature stub (spec: ops/multimodal.py _fake_feature)
# --------------------------------------------------------------------------

def golden_media_features(docs: pd.DataFrame) -> pd.DataFrame:
    rows = []
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        payload = (text or "").encode("utf-8")
        media_type = ["image/png", "audio/wav", "video/mp4"][int(doc_id) % 3]
        d = hashlib.blake2b(payload, digest_size=8).digest()
        w = 64 + d[0] % 192
        h = 64 + d[1] % 192
        arr = np.frombuffer(payload[:4096], dtype=np.uint8)
        mean = round(float(arr.mean()), 6) if arr.size else 0.0
        rows.append((int(doc_id), media_type, len(payload), w, h, mean, 16))
    return pd.DataFrame(
        rows,
        columns=[
            "doc_id", "media_type", "n_bytes", "width", "height",
            "feat_mean", "feat_dim",
        ],
    )


# --------------------------------------------------------------------------
# trained lang-id (spec: ops/lang_clf.py — one-vs-rest fixed-point
# logistic heads over hashed char-3-grams, fastText lang-id shape)
# --------------------------------------------------------------------------

LANGID_BUCKETS = 2048
LANGID_NGRAM = 3
LANGID_ITERS = 8
LANGID_LR = 2.0


def _langid_grams(text) -> list[int]:
    """Char-3-gram buckets of lower(trim(text)) — trim is SPACES-ONLY
    to match Spark F.trim (the bpe/lm whitespace discipline)."""
    if text is None:
        return []
    s = str(text).lower().strip(" ")
    if len(s) < LANGID_NGRAM:
        return []
    return [
        int(
            hashlib.md5(s[i : i + LANGID_NGRAM].encode()).hexdigest()[:8],
            16,
        )
        % LANGID_BUCKETS
        for i in range(len(s) - LANGID_NGRAM + 1)
    ]


def _logistic_replay(featured, iters, lr):
    """The quality_train math in pure Python over [(counts, n, y)]
    rows — shared shape with golden_quality_clf's inline loop."""
    n_docs = len(featured)
    w: dict[int, int] = {}
    w0 = 0
    for _ in range(iters):
        gsum: dict[int, int] = {}
        bias_g = 0
        for c, n, y in featured:
            sm = sum(cnt * w.get(b, 0) for b, cnt in c.items())
            z = w0 / QCLF_SCALE + sm / (n * float(QCLF_SCALE))
            rq = _half_up((1.0 / (1.0 + math.exp(-z)) - y) * QCLF_SCALE)
            bias_g += rq
            for b, cnt in c.items():
                gsum[b] = gsum.get(b, 0) + _half_up(rq * cnt / n)
        for b, g in gsum.items():
            w[b] = w.get(b, 0) - _half_up(lr * g / n_docs)
        w0 -= _half_up(lr * bias_g / n_docs)
    return w0, w


def golden_langid_weights() -> pd.DataFrame:
    """Independent pure-Python retrain of the committed lang-id model
    over the deterministic fixture (ops/lang_clf.py::langid_fixture is
    replayed here verbatim — md5 arithmetic only)."""
    scripts_dir = os.path.dirname(os.path.abspath(__file__))
    sys.path.insert(0, os.path.dirname(scripts_dir))
    from text_ocr_spark.ops.lang_clf import langid_fixture

    fx = langid_fixture()
    langs = sorted({lang for _, _, lang in fx})
    feats = []
    for _d, text, lang in fx:
        c = Counter(_langid_grams(text))
        feats.append((c, sum(c.values()), lang))
    rows = []
    for lang in langs:
        featured = [
            (c, n, 1.0 if lg == lang else 0.0)
            for c, n, lg in feats
            if n > 0
        ]
        w0, w = _logistic_replay(featured, LANGID_ITERS, LANGID_LR)
        rows.append((lang, -1, w0))
        rows.extend((lang, int(b), int(m)) for b, m in sorted(w.items()))
    return pd.DataFrame(rows, columns=["lang", "b", "w_micro"])


def golden_langid(docs: pd.DataFrame, weights: pd.DataFrame) -> pd.DataFrame:
    """Classify the corpus with the (replayed) weights in pure Python:
    z_L = w0_L + half_up(s_L / n), argmax with lang-order tie-break."""
    langs = sorted(weights["lang"].unique())
    bias = {
        r.lang: int(r.w_micro)
        for r in weights[weights["b"] == -1].itertuples()
    }
    wt: dict[str, dict[int, int]] = {lang: {} for lang in langs}
    for r in weights[weights["b"] != -1].itertuples():
        wt[r.lang][int(r.b)] = int(r.w_micro)
    rows = []
    for d, t in zip(docs["doc_id"], docs["text"]):
        c = Counter(_langid_grams(t))
        n = sum(c.values())
        best = None
        for rank, lang in enumerate(langs):
            if n > 0:
                s = sum(cnt * wt[lang].get(b, 0) for b, cnt in c.items())
                z = bias[lang] + _half_up(s / n)
            else:
                z = bias[lang]
            key = (z, -rank)
            if best is None or key > best[0]:
                best = (key, lang, z)
        rows.append((int(d), int(n), best[1], int(best[2])))
    return pd.DataFrame(
        rows, columns=["doc_id", "n_grams", "lang_pred", "z_micro"]
    )


def _write(df: pd.DataFrame, schema: pa.Schema, path: str) -> None:
    pq.write_table(
        pa.Table.from_pandas(df, schema=schema, preserve_index=False), path
    )
    print(f"{path}: {len(df)} rows")


def main(sfs: list[str]) -> None:
    # sf-independent: the committed lang-id model (pure-Python retrain
    # over the deterministic fixture — the contract row classifies with
    # exactly this table; tests pin Spark training equal at reduced size)
    lw = golden_langid_weights()
    _write(
        lw,
        pa.schema(
            [("lang", pa.string()), ("b", pa.int64()), ("w_micro", pa.int64())]
        ),
        "fixturedata/langid_weights.parquet",
    )
    for sf in sfs:
        t0 = time.time()
        docs = duckdb.sql(
            f"SELECT doc_id, text FROM read_parquet('/root/testdata/{sf}/documents.parquet')"
            " ORDER BY doc_id"
        ).df()
        emb = duckdb.sql(
            f"SELECT vec_id, embedding FROM read_parquet('/root/testdata/{sf}/embeddings.parquet')"
            " ORDER BY vec_id"
        ).df()
        _write(
            golden_simhash(docs),
            pa.schema(
                [("doc_a", pa.int64()), ("doc_b", pa.int64()), ("hamming", pa.int32())]
            ),
            f"fixturedata/golden_simhash_{sf}.parquet",
        )
        _write(
            golden_media_features(docs),
            pa.schema(
                [
                    ("doc_id", pa.int64()), ("media_type", pa.string()),
                    ("n_bytes", pa.int64()), ("width", pa.int32()),
                    ("height", pa.int32()), ("feat_mean", pa.float64()),
                    ("feat_dim", pa.int32()),
                ]
            ),
            f"fixturedata/golden_media_features_{sf}.parquet",
        )
        _write(
            golden_ivf_train(emb),
            pa.schema([("vec_id", pa.int64()), ("centroid_id", pa.int32())]),
            f"fixturedata/golden_ivf_train_{sf}.parquet",
        )
        _write(
            golden_bpe(docs),
            pa.schema(
                [
                    ("doc_id", pa.int64()), ("n_bpe", pa.int64()),
                    ("bpe_joined", pa.string()),
                ]
            ),
            f"fixturedata/golden_bpe_{sf}.parquet",
        )
        _write(
            golden_langid(docs, lw),
            pa.schema(
                [
                    ("doc_id", pa.int64()), ("n_grams", pa.int64()),
                    ("lang_pred", pa.string()), ("z_micro", pa.int64()),
                ]
            ),
            f"fixturedata/golden_langid_{sf}.parquet",
        )
        _write(
            golden_quality_clf(docs),
            pa.schema(
                [
                    ("doc_id", pa.int64()), ("n_tokens", pa.int64()),
                    ("z_micro", pa.int64()), ("prob", pa.float64()),
                    ("keep", pa.int32()),
                ]
            ),
            f"fixturedata/golden_quality_clf_{sf}.parquet",
        )
        _write(
            golden_semdedup(emb),
            pa.schema(
                [
                    ("vec_id", pa.int64()), ("centroid_id", pa.int32()),
                    ("cluster_id", pa.int64()), ("keep_id", pa.int64()),
                    ("is_dup", pa.int32()),
                ]
            ),
            f"fixturedata/golden_semdedup_{sf}.parquet",
        )
        _write(
            golden_vertical(docs),
            pa.schema(
                [
                    ("doc_id", pa.int64()), ("kind", pa.string()),
                    ("extracted", pa.string()), ("spans_json", pa.string()),
                ]
            ),
            f"fixturedata/golden_vertical_{sf}.parquet",
        )
        print(f"{sf} done in {time.time() - t0:.1f}s")


if __name__ == "__main__":
    main(sys.argv[1:] or ["sf0.01"])
