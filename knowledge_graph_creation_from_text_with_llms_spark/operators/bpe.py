"""Byte-pair-encoding tokenizer: distributed merge learning + native
application.

Sennrich et al. 2016 BPE on the word level: represent each distinct
word as a space-joined symbol sequence, repeatedly (a) count adjacent
symbol pairs weighted by word frequency, (b) merge the most frequent
pair everywhere. The critical scale property: after ONE corpus scan
builds the (word, count) vocabulary, every learning round runs on the
vocabulary only — corpus size stops mattering. Determinism: ties break
on the space-joined pair string ascending (symbols never contain a
space and ' ' sorts below every token char, so string order equals
(a, b) tuple order), making the learned merge list — and therefore
every encoding — bit-reproducible, including in the unrolled SQL
oracle (gate.text_bpe_tokens).

Application is a token-boundary-safe left fold: split the symbol
string on spaces and scan once, merging the current token into the
accumulator's trailing token whenever (trailing, current) equals the
learned pair — exactly Sennrich's greedy left-to-right non-overlapping
merge ("aaa" + merge (a,a) → ["aa", "a"]). A literal substring
replace("a b" → "ab") would be wrong here: "xa b" (tokens [xa, b])
contains the substring "a b" and would corrupt to "xab", a merge real
BPE never makes. The fold is a native higher-order expression in Spark
(F.aggregate) and mirrored bit-identically in the SQL oracle
(list_reduce), so the gate verifies the boundary semantics too.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens_expr

# interleave: "word" -> "w o r d". Spark regexp_replace is global;
# no lookarounds (the SQL twin is RE2, which lacks them):
# rtrim(regexp_replace(w, '(.)', '$1 '))
_CHARS = "rtrim(regexp_replace({col}, '(.)', '$1 '))"


def apply_merge_expr(syms: Column, a: str, b: str) -> Column:
    """One BPE merge (a, b) applied to a space-joined symbol column —
    greedy left-to-right on TOKEN boundaries via a fold over the split
    tokens: the accumulator is the rebuilt (space-prefixed) symbol
    string, and the current token b fuses with a trailing token a.
    endswith(' '||a) is unambiguous because symbols never contain a
    space. SQL twin: the identical list_reduce fold in gate._SQL_BPE."""
    sep_a = " " + a
    return F.ltrim(
        F.aggregate(
            F.split(syms, " "),
            F.lit(""),
            lambda acc, t: F.when(
                (t == F.lit(b)) & acc.endswith(sep_a),
                F.concat(
                    acc.substr(F.lit(1), F.length(acc) - F.lit(len(sep_a))),
                    F.lit(" " + a + b),
                ),
            ).otherwise(F.concat(acc, F.lit(" "), t)),
        )
    )


def _word_vocab(docs: DataFrame) -> DataFrame:
    """(w, syms, cnt): distinct lowercase alphanumeric words of `text`
    with corpus frequency and the initial character-level symbol
    string."""
    return (
        docs.select(F.explode(tokens_expr("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .withColumn("syms", F.expr(_CHARS.format(col="w")))
    )


def _learn_merges_local(
    rows: list, num_merges: int
) -> tuple[list[tuple[str, str]], list]:
    """The merge loop on a COLLECTED vocabulary: bit-identical to the
    distributed loop (same adjacent-pair counting weighted by word
    count, same (count desc, pair asc) argmax — symbols are ASCII from
    tokens_expr's [a-z0-9]+, so Python string order equals Spark's
    UTF-8 binary order — same boundary-safe greedy left-to-right
    apply, same <2 early stop). rows: [(w, cnt, syms_token_list)].
    Returns (merges, rows_with_final_syms)."""
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        counts: dict[str, int] = {}
        for _w, cnt, syms in rows:
            for i in range(len(syms) - 1):
                p = syms[i] + " " + syms[i + 1]
                counts[p] = counts.get(p, 0) + cnt
        if not counts:
            break
        pat, c = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if c < 2:
            break
        a, b = pat.split(" ", 1)
        merges.append((a, b))
        for r in rows:
            syms = r[2]
            if pat not in " ".join(syms):
                continue
            acc: list[str] = []
            for t in syms:
                if t == b and acc and acc[-1] == a:
                    acc[-1] = a + b
                else:
                    acc.append(t)
            r[2] = acc
    return merges, rows


def learn_bpe(
    docs: DataFrame,
    num_merges: int = 20,
    max_driver_vocab: int = 1_000_000,
) -> tuple[list[tuple[str, str]], DataFrame]:
    """Learn `num_merges` BPE merges from the docs' `text`; returns
    (merges, final_vocab).

    merges is the ordered driver-side list of (left, right) symbol
    pairs (it parameterizes `encode_expr` for unseen text); final_vocab
    is (w, syms, cnt) with every vocabulary word fully encoded — join
    corpus tokens against it to tokenize the training corpus itself.

    Where the merge LOOP runs — the corpus-scale work is always the
    one distributed vocabulary aggregation either way — follows from
    the vocabulary size, read by ONE job: collect at most
    max_driver_vocab + 1 vocabulary rows.
    - They fit (≤ max_driver_vocab rows): the loop runs in plain
      Python on the collected rows — num_merges rounds of per-job
      scheduling overhead collapse to zero; bit-identical output
      (equivalence pinned in tests/test_bpe.py). Measured in an
      interleaved A/B on the sf0.1 gate, both trial orders: driver
      1.8-2.3 s vs distributed 3.8-3.9 s at 2 cores, 1.5-1.7 s vs
      4.2-4.8 s at 8 cores (the distributed loop DEGRADES with cores:
      2x12-round job scheduling over a ~27k-word table dwarfs the
      compute); see BENCH/BASELINE.md round-5 notes.
    - They don't: the loop stays on the cluster — each round is one
      aggregation over the VOCABULARY plus a 1-row argmax collect, so
      the only driver traffic is the winning pair.

    Stops early when no pair occurs twice.
    """
    vocab = _word_vocab(docs)
    collected = vocab.limit(max_driver_vocab + 1).collect()
    if len(collected) <= max_driver_vocab:
        rows = [[r["w"], r["cnt"], r["syms"].split(" ")] for r in collected]
        merges, rows = _learn_merges_local(rows, num_merges)
        out = docs.sparkSession.createDataFrame(
            [(w, cnt, " ".join(syms)) for w, cnt, syms in rows],
            "w string, cnt long, syms string",
        )
        return merges, out.select("w", "cnt", "syms")
    vocab = vocab.localCheckpoint(eager=True)
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        ws = F.split("syms", " ")
        pairs = vocab.select(
            "cnt",
            F.explode(
                F.when(
                    F.size(ws) >= 2,
                    F.zip_with(
                        F.slice(ws, 1, F.size(ws) - 1),
                        F.slice(ws, 2, F.size(ws) - 1),
                        lambda a, b: F.concat_ws(" ", a, b),
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("pair"),
        )
        best = (
            pairs.groupBy("pair")
            .agg(F.sum("cnt").alias("c"))
            .orderBy(F.desc("c"), F.asc("pair"))
            .limit(1)
            .collect()
        )
        if not best or best[0]["c"] < 2:
            break
        pat = best[0]["pair"]
        a, b = pat.split(" ", 1)
        merges.append((a, b))
        vocab = vocab.withColumn(
            "syms", apply_merge_expr(F.col("syms"), a, b)
        ).localCheckpoint(eager=True)
    return merges, vocab


def encode_expr(word: Column, merges: list[tuple[str, str]]) -> Column:
    """Space-joined BPE encoding of a (lowercase alphanumeric) word
    column under the learned merges — a chain of boundary-safe merge
    folds, fully native, usable on words outside the learned
    vocabulary. SQL twin: the same list_reduce fold chain."""
    out = F.rtrim(F.regexp_replace(word, "(.)", "$1 "))
    for a, b in merges:
        out = apply_merge_expr(out, a, b)
    return out


def bpe_token_stats(docs: DataFrame, vocab: DataFrame) -> DataFrame:
    """(doc_id, n_bpe_tokens, n_words) per document under a learned vocab —
    the BPE-accurate cost estimate next to textstats.token_counts'
    regex approximation. Vocabulary is bounded → broadcast join; the
    corpus is scanned once."""
    toks = docs.select(
        F.col("doc_id"), F.explode(tokens_expr("text")).alias("w")
    )
    joined = toks.join(F.broadcast(vocab.select("w", "syms")), "w")
    return joined.groupBy("doc_id").agg(
        F.sum(F.size(F.split("syms", " "))).cast("long").alias("n_bpe_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_words"),
    )
