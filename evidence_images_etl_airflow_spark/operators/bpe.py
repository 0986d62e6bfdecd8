"""Distributed BPE (byte-pair-encoding) vocabulary training.

The reference counts tokens with a whitespace split (SURVEY §2.4 has
no subword machinery at all); a training-data pipeline needs the next
step — LEARNING the subword vocabulary from the corpus. Classic BPE
(Sennrich et al. 2016, "Neural Machine Translation of Rare Words with
Subword Units") alternates "count adjacent symbol pairs" with "merge
the most frequent pair" — embarrassingly aggregation-shaped, so it
maps onto DataFrames directly:

- ONE corpus pass builds the (word, freq) table — after that, every
  iteration runs on the VOCABULARY (thousands..millions of rows at
  web scale), never the corpus again. That's the 100 TB design: the
  corpus contributes one distributed explode+groupBy; the merge loop's
  cost follows |vocab|.
- Each iteration = one explode of adjacent pairs + one weighted
  hash-agg + a 1-row argmax collect (the only driver traffic: the
  winning pair) + a row-local merge rewrite. Iteration state is
  localCheckpoint-ed like `graph.pagerank` so the plan doesn't grow a
  replace per round.

Symbol sequences are SPACE-DELIMITED strings (' h e l l o </w> '),
and a merge rewrites ' a b ' -> ' ab ' with a plain non-overlapping
left-to-right string replace. For runs of a repeated symbol this
differs from canonical greedy BPE in one corner (' b b b b ' merges
once, not twice, per pass — the consumed trailing delimiter blocks
the immediately-adjacent second match); both engines implement the
same scan rule, so training is deterministic and the DuckDB oracle
replays it bit-for-bit (workload.text_bpe_vocab unrolls the loop as
chained CTEs, one stage per merge).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from evidence_images_etl_airflow_spark.functions.text import tokens

MARKER = "</w>"


def _word_seqs(docs: DataFrame, text_col: str) -> DataFrame:
    """(seq, freq): whitespace-token frequencies with each word spelled
    as a space-delimited char sequence ending in the end-of-word
    marker. The one corpus-wide pass."""
    return (
        docs.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            F.concat(
                F.lit(" "),
                F.regexp_replace(F.col("w"), "(.)", "$1 "),
                F.lit(MARKER + " "),
            ).alias("seq"),
            "freq",
        )
    )


def _pair_counts(words: DataFrame) -> DataFrame:
    toks = F.split(F.trim(F.col("seq")), " ")
    pairs = F.arrays_zip(
        F.slice(toks, 1, F.size(toks) - 1).alias("pa"),
        F.slice(toks, 2, F.size(toks) - 1).alias("pb"),
    )
    return (
        words.select(F.explode(pairs).alias("p"), "freq")
        .groupBy(F.col("p.pa").alias("pa"), F.col("p.pb").alias("pb"))
        .agg(F.sum("freq").alias("c"))
    )


def bpe_train(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 12,
) -> list[tuple[int, str, str, str, int]]:
    """Learn ``n_merges`` BPE merges from the corpus. Returns the
    ordered merge table [(rank, pair_a, pair_b, merged, pair_count)];
    stops early if no adjacent pair is left. Determinism: the winning
    pair maximizes weighted count with ties broken by (pair_a, pair_b)
    ascending."""
    spark = docs.sparkSession
    words = _word_seqs(docs, text_col).localCheckpoint(eager=False)
    merges: list[tuple[int, str, str, str, int]] = []
    for r in range(1, n_merges + 1):
        best = (
            _pair_counts(words)
            .orderBy(F.col("c").desc(), F.col("pa"), F.col("pb"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        pa, pb, c = best[0]["pa"], best[0]["pb"], int(best[0]["c"])
        merges.append((r, pa, pb, pa + pb, c))
        words = words.select(
            F.replace(
                F.col("seq"), F.lit(f" {pa} {pb} "), F.lit(f" {pa}{pb} ")
            ).alias("seq"),
            "freq",
        ).localCheckpoint(eager=False)
    return merges


def bpe_segment(col, merges: list[tuple[int, str, str, str, int]]):
    """Segment a single-word column into learned subword tokens
    (array<string>) by replaying the merge list in rank order — a pure
    row-local expression chain (one string replace per merge), no
    vocab join, no Python. Apply to whitespace tokens, not raw text."""
    seq = F.concat(
        F.lit(" "),
        F.regexp_replace(col, "(.)", "$1 "),
        F.lit(MARKER + " "),
    )
    for _, pa, pb, _, _ in merges:
        seq = F.replace(seq, F.lit(f" {pa} {pb} "), F.lit(f" {pa}{pb} "))
    return F.split(F.trim(seq), " ")
