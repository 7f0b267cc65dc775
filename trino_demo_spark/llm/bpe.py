"""Distributed BPE vocabulary induction (Sennrich et al. 2016, public
algorithm) — the tokenizer-training step of a training-data pipeline,
run as an iterative DataFrame computation.

Shape per merge round (the only scale-relevant part):

* pair counting is ONE map-side zip_with over each word's symbol array
  followed by a keyed partial+final aggregate weighted by word
  frequency — the corpus text itself is touched ONCE ever (word
  frequencies are a one-time aggregate; every round after operates on
  the distinct-word frame, which is vocabulary-sized, not corpus-sized);
* the argmax pair travels to the driver as ONE row per round
  (count desc, pair lexicographic — deterministic across engines and
  partitionings);
* applying the merge is a per-row sequential fold over the symbol
  array (aggregate() with a carry — pure codegen, no UDF), exactly the
  left-to-right non-overlapping semantics of reference BPE.

At 100 TB: distinct words ≪ corpus tokens (Heaps' law), so the
per-round cost is a keyed aggregate over the word list; rounds are
sequential by definition of the algorithm. Driver state = the merge
table (n_merges rows).

Reference parity: tests/test_llm.py cross-checks the full merge
sequence against an independent pure-Python BPE on the same word-freq
dict.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..iterutil import Rounds, materialize
from .dedup import tokens_col


def word_freqs(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One-time corpus pass: lowercased whitespace words → frequencies.

    Empty tokens are not words: `\\s+` splitting of whitespace-only /
    separator-trailing text yields '' entries (regex-whitespace like
    \\f survives the space-only trim), and an empty word would carry
    one subtoken but zero characters — poisoning both the vocabulary
    and every token-count bound."""
    return (
        df.select(F.explode(tokens_col(text_col)).alias("w"))
        .filter(F.col("w") != "")
        .select(F.lower("w").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )


def _merge_fold(x: str, y: str):
    """Left-to-right non-overlapping merge of adjacent (x, y) in the
    symbol array — a sequential fold with a one-symbol carry.

    REFERENCE implementation (r11 optimization round): the shipped
    segmentation path is the padded-string replace form below
    (seg_init/seg_merge) — byte-identical output, pinned by
    tests/test_llm.py::test_bpe_seg_replace_matches_fold — because a
    chain of n_merges interpreted ``aggregate()`` HOFs (each element
    allocating a named_struct and copying the accumulator array)
    dominated the tokenizer entries' wall clock: the analyzer/
    optimizer walks a 6-deep nested fold tree per reference and the
    interpreter pays per-element struct+copy costs, measured 13.9 s
    for ONE vocabulary pass at sf0.1 vs ~0.1 s for the replace chain
    (OPTIMIZATION_r11.md). Kept for the differential test only."""
    # Escape backslashes BEFORE quotes: a corpus symbol ending in '\'
    # would otherwise escape the closing quote of the SQL literal.
    xq = x.replace("\\", "\\\\").replace("'", "\\'")
    yq = y.replace("\\", "\\\\").replace("'", "\\'")
    return F.expr(
        "aggregate(syms, "
        "named_struct('out', CAST(array() AS ARRAY<STRING>), 'pend', CAST(NULL AS STRING)), "
        "(acc, s) -> CASE "
        "  WHEN acc.pend IS NULL THEN named_struct('out', acc.out, 'pend', s) "
        f" WHEN acc.pend = '{xq}' AND s = '{yq}' THEN "
        f"   named_struct('out', concat(acc.out, array('{xq}{yq}')), 'pend', CAST(NULL AS STRING)) "
        "  ELSE named_struct('out', concat(acc.out, array(acc.pend)), 'pend', s) END, "
        "acc -> CASE WHEN acc.pend IS NULL THEN acc.out "
        "       ELSE concat(acc.out, array(acc.pend)) END)"
    )


def seg_init(w_col) -> "F.Column":
    """Padded-string form of a word's initial symbol array: every
    symbol wrapped in single spaces, symbols separated by TWO spaces —
    ``'abc'`` → ``' a  b  c '``. Words are ``\\s+``-split tokens, so no
    symbol ever contains whitespace and the space framing is
    collision-free. The two-space separation is what makes one merge
    pass a plain ``replace``: consecutive merge sites never share a
    separator character, so left-to-right non-overlapping string
    replacement visits exactly the sites the reference carry-fold
    visits (see _merge_fold docstring; equivalence pinned in
    tests/test_llm.py::test_bpe_seg_replace_matches_fold)."""
    return F.concat(
        F.lit(" "), F.array_join(F.split(w_col, ""), "  "), F.lit(" ")
    )


def seg_merge(s_col, x: str, y: str) -> "F.Column":
    """One BPE merge (x, y) on the padded-string form: Spark's
    ``replace`` scans left-to-right and resumes AFTER each replacement
    (UTF8String semantics, verified ``replace('aaa','aa','b') = 'ba'``),
    which is exactly reference BPE's greedy non-overlapping merge.
    Literal columns, not SQL splicing — symbols with quotes or
    backslashes need no escaping."""
    return F.replace(
        s_col, F.lit(f" {x}  {y} "), F.lit(f" {x}{y} ")
    )


def seg_col(w_col, merges: list[tuple[str, str]]) -> "F.Column":
    """Full segmentation of a word column: seg_init then every merge in
    rank order. Pure codegen string work, one shallow call per merge."""
    s = seg_init(w_col)
    for x, y in merges:
        s = seg_merge(s, x, y)
    return s


def seg_n_subtokens(s_col) -> "F.Column":
    """Symbol count of a padded-string segmentation: the framing puts
    exactly 2·n spaces in a n-symbol string (one on each side of every
    symbol), so n = (chars − non-space chars) / 2 — two length() calls,
    no array materialization."""
    spaces = F.length(s_col) - F.length(
        F.replace(s_col, F.lit(" "), F.lit(""))
    )
    return (spaces / 2).cast("int")


def seg_syms(s_col) -> "F.Column":
    """Recover the symbol ARRAY from the padded-string form (for pair
    counting in the train loop): trim the outer frame, split on the
    two-space separator."""
    return F.split(F.trim(s_col), "  ")


def bpe_train(
    df: DataFrame,
    n_merges: int = 10,
    text_col: str = "text",
) -> list[tuple[str, str, int]]:
    """Learn `n_merges` BPE merges from the corpus; returns
    [(left, right, weighted_count), ...] in merge order."""
    return bpe_train_words(word_freqs(df, text_col), n_merges)


def bpe_train_words(
    words: DataFrame, n_merges: int = 10
) -> list[tuple[str, str, int]]:
    """Merge loop over an explicit (w, freq) vocabulary frame — the
    train step proper, split out so callers can train on a capped or
    re-weighted vocabulary (e.g. the parity surface's deterministic
    top-N sub-vocabulary that an in-process reference BPE re-derives).

    ONE Spark job per merge round: the per-round argmax job both counts
    pairs and (via the cache manager) populates the current round's
    persisted segmentation as a side effect, so no ``count()`` barrier
    is needed. Merge application is the padded-string ``replace``
    (seg_merge), not the interpreted carry-fold: same output (pinned by
    the differential test), codegen string work instead of per-element
    struct allocation. Measured sf0.1: 6 rounds 5.8 s → see
    OPTIMIZATION_r11.md."""
    cur = words.select("w", "freq", seg_init(F.col("w")).alias("s"))
    merges: list[tuple[str, str, int]] = []
    with Rounds() as rounds:
        for _ in range(n_merges):
            # distinct-word frame is vocabulary-sized: cache it and iterate on it
            cur = rounds.hold(cur.persist())
            pairs = cur.select(
                "freq", seg_syms(F.col("s")).alias("syms")
            ).select(
                "freq",
                F.explode(
                    F.expr(
                        "zip_with(slice(syms, 1, size(syms) - 1), "
                        "slice(syms, 2, size(syms) - 1), "
                        "(a, b) -> named_struct('x', a, 'y', b))"
                    )
                ).alias("p"),
            )
            top = (
                pairs.groupBy("p")
                .agg(F.sum("freq").alias("cnt"))
                .orderBy(
                    F.col("cnt").desc(), F.col("p.x").asc(), F.col("p.y").asc()
                )
                .limit(1)
                .collect()
            )
            rounds.advance(cur)
            if not top:
                break
            x, y, cnt = top[0]["p"]["x"], top[0]["p"]["y"], int(top[0]["cnt"])
            merges.append((x, y, cnt))
            cur = cur.withColumn("s", seg_merge(F.col("s"), x, y))
            # ADVICE r11 (bpe.py:198): the plan chains one seg_merge
            # deeper per round over the persisted parent, so a cache
            # eviction at round N recomputes back to the corpus and
            # analyzer cost grows linearly per round (quadratic overall)
            # for large n_merges. Truncate lineage periodically — the
            # checkpointInterval discipline ml.py cites — cheap (one
            # extra pass every 32 rounds), a no-op at the n_merges≤8 the
            # entries use, and it bounds recompute depth to 32 rounds.
            if len(merges) % 32 == 0:
                cur = materialize(cur)
    return merges


def bpe_merge_table(
    df: DataFrame, n_merges: int = 10, text_col: str = "text"
) -> DataFrame:
    """The learned merges as a DataFrame (rank, left, right, merged,
    weighted_count) — the artifact a tokenizer ships."""
    spark = df.sparkSession
    merges = bpe_train(df, n_merges, text_col)
    rows = [
        (i + 1, x, y, x + y, c) for i, (x, y, c) in enumerate(merges)
    ]
    return spark.createDataFrame(
        rows, "rank INT, left STRING, right STRING, merged STRING, weighted_count BIGINT"
    )


def bpe_reference(word_freq: dict[str, int], n_merges: int) -> list[tuple[str, str]]:
    """Independent pure-Python reference BPE (test oracle only)."""
    vocab = {w: list(w) for w in word_freq}
    out = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for w, syms in vocab.items():
            f = word_freq[w]
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        (x, y), _ = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        out.append((x, y))
        for w, syms in vocab.items():
            new, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == x and syms[i + 1] == y:
                    new.append(x + y)
                    i += 2
                else:
                    new.append(syms[i])
                    i += 1
            vocab[w] = new
    return out


def bpe_apply(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a learned merge list to the corpus: every word becomes its
    BPE segmentation (the same greedy left-to-right merge semantics as
    training, one padded-string ``replace`` per merge in rank order —
    pure codegen, no UDF; see seg_init/seg_merge), and per-document
    token statistics come out of one aggregate. This is the
    train→apply handoff of a real tokenizer: merges are a tiny
    driver-side list compiled INTO the expression tree, so application
    is embarrassingly parallel at any corpus size.

    The segmentation runs over the DISTINCT-word frame, not per word
    instance — the same Heaps'-law collapse the training loop already
    exploits: segmenting each distinct word once and joining the
    subtoken count back to the (doc, word, count) frame cuts the
    per-word work from corpus-sized to vocabulary-sized
    (sf1-equivalent: 97s → the join plus a vocabulary-sized pass,
    measured on the pre-r11 fold form; the r11 replace form removes
    the interpreted-HOF constant on top). The join key is the word;
    the segmented vocabulary is small next to the corpus, so AQE
    broadcasts it when it fits and shuffle-joins otherwise."""
    wc = (
        df.select(
            F.col(id_col),
            F.explode(tokens_col(text_col)).alias("w"),
        )
        # empty tokens are not words (see word_freqs)
        .filter(F.col("w") != "")
        .select(id_col, F.lower("w").alias("w"))
        .groupBy(id_col, "w")
        .agg(F.count("*").alias("cnt"))
    )
    seg = (
        wc.select("w")
        .distinct()
        .select(
            "w",
            seg_n_subtokens(seg_col(F.col("w"), merges)).alias("n_subtokens"),
        )
    )
    return (
        wc.join(seg, "w")
        .groupBy(id_col)
        .agg(
            F.sum("cnt").cast("long").alias("n_words"),
            F.sum(F.col("cnt") * F.col("n_subtokens")).cast("long").alias("n_bpe_tokens"),
        )
    )
