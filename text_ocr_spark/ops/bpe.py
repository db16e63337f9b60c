"""Learned BPE tokenizer — train byte-pair-encoding merges on the
corpus and tokenize at corpus scale. The `tokenize` stage every
training-data pipeline ends with: shard budgets (`pack_shards`), token
counts, and mixture accounting all want REAL learned-subword counts,
not whitespace or regex proxies (token_stats' `n_bpe_tokens` is the
heuristic; this is the learned article).

Algorithm (Sennrich et al. 2016, the reference BPE):

- TRAIN runs on the WORD-FREQUENCY dictionary, not the corpus — the
  textbook optimization every production trainer (sentencepiece, HF
  tokenizers) uses: one distributed pass collapses the corpus to
  (word, count) pairs (bounded by the vocabulary, which is orders of
  magnitude smaller than the corpus; production trainers additionally
  truncate to the top-K words or train on a sample — MAX_WORDS here,
  taken by count-then-word order so it is deterministic), then the
  merge loop runs driver-side over that dictionary exactly as the
  paper describes: repeatedly count adjacent symbol pairs weighted by
  word frequency, merge the most frequent pair (ties broken
  lexicographically — a total, replayable order), N_MERGES times.
  Words are space-joined symbol sequences with the end-of-word marker
  `</w>` on the final symbol (the paper's formulation), so merges
  never cross word boundaries.

- TOKENIZE is the corpus-scale path: the learned merge ranks broadcast
  (N_MERGES entries) and every document tokenizes in ONE Arrow stage
  (mapInPandas) — the per-word merge loop is inherently iterative
  (apply the lowest-rank applicable merge until none applies), which
  no Catalyst expression expresses, so this is the legitimate
  pandas-UDF case; per-word results are memoized per batch (web text
  repeats words heavily) and words never leave the executor. Output
  carries the subword array and its count (``n_bpe``), the learned
  token count a budget or mixture tally reads.

Determinism: train is a pure function of (corpus, N_MERGES, MAX_WORDS)
— exact integer counts, total tie orders, no RNG; tokenize is a pure
per-row function of (text, merges). Both replay bit-exact in pure
Python (the committed-golden oracle, gen_op_golden.py::golden_bpe).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from text_ocr_spark.ops.lm import lm_tokens

#: end-of-word marker (Sennrich et al. 2016)
EOW = "</w>"

#: learned merges per training run (below saturation for the fixture's
#: 31-word vocabulary, so tokens are genuine subwords). Both constants
#: are read at call time so tests can patch them.
N_MERGES = 40

#: train-side dictionary cap: production BPE trainers bound the word
#: dictionary (top-K by frequency / sampling); ties at the boundary
#: break by word string so the cut is deterministic
MAX_WORDS = 1_000_000


def word_counts(docs: DataFrame) -> DataFrame:
    """-> (word, cnt): the corpus' word-frequency dictionary — ONE
    map-side-combined aggregate over the lm_tokens stream (the only
    corpus-scale work in training)."""
    return (
        docs.select(F.explode(lm_tokens()).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


def _merge_word(symbols: tuple, pair: tuple) -> tuple:
    out = []
    i = 0
    while i < len(symbols):
        if (
            i + 1 < len(symbols)
            and symbols[i] == pair[0]
            and symbols[i + 1] == pair[1]
        ):
            out.append(symbols[i] + symbols[i + 1])
            i += 2
        else:
            out.append(symbols[i])
            i += 1
    return tuple(out)


def bpe_learn_from_counts(
    counts: list[tuple[str, int]], n_merges: int
) -> list[tuple[str, str]]:
    """Driver-side Sennrich merge loop over a (word, count) dictionary.
    -> ordered merge list [(left, right), ...] (rank = position).
    Deterministic: max count, ties by (left, right) lexicographic."""
    vocab: dict[tuple, int] = {}
    for w, c in counts:
        syms = tuple(list(w[:-1]) + [w[-1] + EOW]) if w else ()
        if syms:
            vocab[syms] = vocab.get(syms, 0) + int(c)
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: dict[tuple, int] = {}
        for syms, c in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + c
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        vocab = {
            _merge_word(syms, best): c for syms, c in vocab.items()
        }
    return merges


def bpe_train(docs: DataFrame) -> DataFrame:
    """Train N_MERGES BPE merges on the corpus. -> (rank, left, right).

    One corpus pass (word_counts); the dictionary comes to the driver
    bounded by MAX_WORDS (taken in (-count, word) order — the
    deterministic top-K every production trainer applies); the merge
    loop is driver-side over that dictionary, as in every reference
    implementation — the corpus itself is never iterated."""
    top = [
        (r["word"], int(r["cnt"]))
        for r in (
            word_counts(docs)
            .orderBy(F.desc("cnt"), F.asc("word"))
            .limit(MAX_WORDS)
            .collect()
        )
    ]
    merges = bpe_learn_from_counts(top, N_MERGES)
    return docs.sparkSession.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "rank int, left string, right string",
    )


def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Apply merges to one word: repeatedly merge the lowest-rank
    adjacent pair until none applies (the standard BPE encoder)."""
    if not word:
        return []
    syms = list(word[:-1]) + [word[-1] + EOW]
    while len(syms) > 1:
        best_rank = None
        best_i = -1
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank = r
                best_i = i
        if best_rank is None:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def bpe_tokenize(docs: DataFrame, merges: DataFrame) -> DataFrame:
    """Tokenize the corpus with learned merges (the 100 TB path).

    -> (doc_id, bpe_tokens array<string>, n_bpe long). ONE Arrow stage:
    the merge table broadcasts as a plain Python dict inside the UDF
    closure (one entry per merge), per-word encodings memoize per batch,
    and nothing but the input rows crosses the wire. NULL/empty docs
    -> empty array, n_bpe 0."""
    ranks = {
        (r["left"], r["right"]): int(r["rank"]) for r in merges.collect()
    }

    import re

    ws = re.compile(r"[ \t\n\f\r]+")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        memo: dict[str, list[str]] = {}
        for pdf in batches:
            toks_col = []
            for t in pdf["__text"]:
                if t is None:
                    toks_col.append([])
                    continue
                # NO .strip(): Python's strip removes the full Unicode
                # whitespace class (\x0b,  ,  ...) at word
                # edges, but lm_tokens — which feeds bpe_train — only
                # splits on WS_RE [ \t\n\f\r]+ (Spark trim is
                # spaces-only, covered by the split class + empty
                # filter). A word entering the vocabulary as '\x0ba'
                # must tokenize as '\x0ba' here too (ADVICE r4).
                out: list[str] = []
                for w in ws.split(str(t).lower()):
                    if not w:
                        continue
                    enc = memo.get(w)
                    if enc is None:
                        enc = encode_word(w, ranks)
                        memo[w] = enc
                    out.extend(enc)
                toks_col.append(out)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "bpe_tokens": toks_col,
                    "n_bpe": [len(x) for x in toks_col],
                }
            )

    return docs.select(
        "doc_id", F.col("text").alias("__text")
    ).mapInPandas(
        run, schema="doc_id long, bpe_tokens array<string>, n_bpe long"
    )
