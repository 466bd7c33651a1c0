"""Byte-pair-encoding vocabulary training, distributed and deterministic.

The real tokenizer-training operator an LLM data pipeline runs over its
corpus (Sennrich et al., 2016, arXiv:1508.07909). The standard efficient
formulation: ONE corpus-sized pass builds the (distinct word, count)
table; every merge iteration then runs over that vocabulary-sized table
only — pair statistics are weighted by word counts, so the result is
identical to training on the raw corpus. At 100 TB the corpus pass is a
plain groupBy(word).count() (partial-agg'd single shuffle) and the
iteration working set is bounded by Heaps' law (~10-100 M distinct
words), cluster-trivial.

Everything is deterministic: ties on pair frequency break to the
lexicographically smallest pair, and the in-word merge is the standard
greedy leftmost non-overlapping rewrite — expressed as a pure Column
``aggregate`` fold (no Python in the per-word path). Reference scope:
the reference engine tokenizes with ``StringTokenizer``
(WordCountV2.java:83); BPE training belongs to the LLM-pipeline
extension surface (north star, SURVEY.md §7.1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

END_OF_WORD = "</w>"


def _word_counts(docs: DataFrame, text_col: str) -> DataFrame:
    from hadoop_map_reduce_spark.functions.text import sanitize, tokenize

    return (
        docs.select(
            F.explode(tokenize(sanitize(F.col(text_col)))).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _merge_pair(symbols, lhs: str, rhs: str):
    """Greedy leftmost non-overlapping merge of (lhs, rhs) -> lhs||rhs
    inside a symbol array, as one Column fold. The accumulator carries
    the rewritten array; a step merges into the tail only when the tail
    element is STILL a lone ``lhs`` (an element just produced by a merge
    is ``lhs||rhs`` and never re-matches), which is exactly the
    non-overlapping leftmost-first rule."""
    return F.aggregate(
        symbols,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(lhs))
            & (x == F.lit(rhs)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.lit(lhs + rhs)),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_train(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
    min_pair_count: int = 2,
) -> list[tuple[int, str, str, int]]:
    """Learn ``n_merges`` BPE merges from a document corpus.

    Returns ``[(rank, lhs, rhs, pair_count), ...]`` in merge order —
    the merge table IS the tokenizer model. Stops early when no pair
    reaches ``min_pair_count`` (merging singleton pairs is noise).

    Plan shape per iteration: explode adjacent pairs over the distinct
    word table (weights ride along, no corpus re-scan), one
    partial-agg'd shuffle on the pair key, a 1-row TakeOrdered to the
    driver, then a shuffle-free fold rewrite of the symbol arrays.
    Lineage is truncated with an eager ``localCheckpoint`` every
    iteration (the dedup_clusters discipline) so the plan does not grow
    with the merge count; each iteration's checkpoint blocks are
    released once the next checkpoint materializes (see
    ``hadoop_map_reduce_spark.checkpoint``), so block-manager storage
    holds ONE copy of the symbol table, not ``n_merges`` copies.
    """
    from hadoop_map_reduce_spark.checkpoint import local_checkpoint

    words = _word_counts(docs, text_col)
    state, release, _ = local_checkpoint(
        words.select(
            "cnt",
            F.concat(
                F.split("word", ""), F.array(F.lit(END_OF_WORD))
            ).alias("syms"),
        )
    )

    merges: list[tuple[int, str, str, int]] = []
    # The live handle is released in the finally — an exception mid-
    # iteration (or a ctrl-C between checkpoints) must not leak the
    # current symbol table's blocks for the session lifetime.
    try:
        for rank in range(n_merges):
            pairs = state.select(
                "cnt",
                F.explode(
                    F.zip_with(
                        F.slice("syms", 1, F.size("syms") - 1),
                        F.slice("syms", 2, F.size("syms") - 1),
                        lambda a, b: F.struct(a.alias("lhs"), b.alias("rhs")),
                    )
                ).alias("p"),
            )
            top = (
                pairs.groupBy("p")
                .agg(F.sum("cnt").alias("n"))
                .orderBy(F.col("n").desc(), F.col("p").asc())
                .limit(1)
                .collect()
            )
            if not top or top[0]["n"] < min_pair_count:
                break
            lhs, rhs, n = (
                top[0]["p"]["lhs"],
                top[0]["p"]["rhs"],
                int(top[0]["n"]),
            )
            merges.append((rank, lhs, rhs, n))
            prev_release = release
            state, release, _ = local_checkpoint(
                state.select(
                    "cnt", _merge_pair(F.col("syms"), lhs, rhs).alias("syms")
                )
            )
            # The new checkpoint is materialized (eager), so the prior
            # iteration's blocks are dead — free them.
            prev_release()
    finally:
        release()
    return merges


def _merge_pair_py(syms: list[str], lhs: str, rhs: str) -> list[str]:
    """Pure-Python replay of ``_merge_pair``'s fold: greedy leftmost
    non-overlapping rewrite — an element just produced by a merge never
    re-matches as ``lhs`` within the same pass."""
    out: list[str] = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == lhs and syms[i + 1] == rhs:
            out.append(lhs + rhs)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def bpe_train_driver(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
    min_pair_count: int = 2,
    max_distinct_words: int = 2_000_000,
) -> list[tuple[int, str, str, int]]:
    """Driver-side BPE trainer — bit-identical to :func:`bpe_train`
    (parity-pinned by ``tests/test_bpe.py``), built on the same
    discipline as ``pq._lloyd_driver``: the corpus-sized work (the
    word-count pass) stays distributed; the iteration state — the
    DISTINCT-word table, bounded by Heaps' law, not corpus size — is
    collected once and the merge loop runs in-process.

    Cost model (why this exists): ``bpe_train`` issues one Spark job
    per merge (a pair-count shuffle + a 1-row TakeOrdered + a
    checkpointed rewrite), which is the right shape when the word table
    itself is cluster-sized — but a real 50k-merge vocabulary means 50k
    sequential job waves of pure scheduler overhead when the word table
    fits one machine. This path does ONE distributed corpus pass, one
    bounded collect, then zero Spark jobs per merge. Choice rule
    (BASELINE.md): distinct words <= ``max_distinct_words`` -> driver;
    above the ceiling the collect refuses loudly (use ``bpe_train``).

    Replay exactness: pair counts weight by word count and count every
    adjacent occurrence (matching the ``zip_with`` slice explode), ties
    break to the lexicographically smallest (lhs, rhs) (matching
    ``orderBy(n desc, p asc)`` struct order on ASCII strings), the
    rewrite is the same greedy leftmost non-overlapping rule, and the
    stop condition is the same ``min_pair_count`` gate.
    """
    rows = _bounded_word_rows(
        _word_counts(docs, text_col), max_distinct_words
    )
    table: list[tuple[list[str], int]] = [
        (list(r["word"]) + [END_OF_WORD], int(r["cnt"])) for r in rows
    ]
    return _train_merges_py(table, n_merges, min_pair_count)


def _bounded_word_rows(words: DataFrame, max_distinct_words: int) -> list:
    """Collect the distinct-word table iff it respects the driver-side
    ceiling; refuse loudly otherwise (shared by both driver trainers —
    a ceiling fix must not be applied twice)."""
    rows = words.limit(max_distinct_words + 1).collect()
    if len(rows) > max_distinct_words:
        raise ValueError(
            f"distinct-word table exceeds {max_distinct_words} rows; "
            "use the distributed bpe_train (or a bounded sample) for "
            "this corpus"
        )
    return rows


def _train_merges_py(
    table: list[tuple[list[str], int]], n_merges: int, min_pair_count: int
) -> list[tuple[int, str, str, int]]:
    """The merge loop shared by the char-level and byte-level driver
    trainers: weighted adjacent-pair counts, max count with ties to the
    lexicographically smallest pair, greedy leftmost rewrite."""
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for syms, cnt in table:
            for i in range(len(syms) - 1):
                key = (syms[i], syms[i + 1])
                counts[key] = counts.get(key, 0) + cnt
        if not counts:
            break
        (lhs, rhs), n = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0])
        )
        if n < min_pair_count:
            break
        merges.append((rank, lhs, rhs, n))
        table = [
            (_merge_pair_py(syms, lhs, rhs), cnt) for syms, cnt in table
        ]
    return merges


def bpe_segment(tokens, merges: list[tuple[int, str, str, int]]):
    """Apply a learned merge table to a token array Column: each token
    becomes its BPE symbol sequence. Pure Column expression — the merge
    list is baked into the plan as ``n_merges`` chained folds (cheap:
    merge tables are small constants, the per-row work is linear in
    token length per merge)."""
    def segment_one(tok):
        syms = F.concat(F.split(tok, ""), F.array(F.lit(END_OF_WORD)))
        for _, lhs, rhs, _n in merges:
            syms = _merge_pair(syms, lhs, rhs)
        return syms

    return F.flatten(F.transform(tokens, segment_one))


# ---------------------------------------------------------------------------
# Byte-level BPE (BBPE): the modern-tokenizer variant (GPT-2 lineage).
# Symbols are UTF-8 BYTES, so ANY unicode text tokenizes without an
# out-of-alphabet escape hatch — 'ñ' is two base symbols, not one char.
# Representation: each byte is a two-hex-digit string ('61', 'c3', ...),
# which makes the whole char-level merge machinery (_merge_pair folds,
# the driver merge loop, tie-break order) reusable verbatim: merged
# symbols are concatenated hex strings, decodable with unhex(). Hex is
# lowercase on both the Column and Python paths; pair tie-breaks compare
# hex strings, which for single bytes equals byte-value order.
# ---------------------------------------------------------------------------


def byte_symbols(col):
    """Column: string -> array of two-hex-digit byte symbols of its
    UTF-8 encoding. Pure Column expression: encode -> hex -> split on
    the \\G pair boundary (Java regex), drop the trailing empty."""
    pairs = F.split(F.lower(F.hex(F.encode(col, "UTF-8"))), r"(?<=\G..)")
    return F.filter(pairs, lambda x: x != F.lit(""))


def _byte_symbols_py(word: str) -> list[str]:
    raw = word.encode("utf-8").hex()
    return [raw[i : i + 2] for i in range(0, len(raw), 2)]


def bbpe_train_driver(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
    min_pair_count: int = 2,
    max_distinct_words: int = 2_000_000,
    unicode_words: bool = False,
) -> list[tuple[int, str, str, int]]:
    """Byte-level twin of :func:`bpe_train_driver`: same distributed
    word-count pass, same bounded collect, same merge loop — the only
    difference is the base alphabet (UTF-8 byte hex pairs + the
    END_OF_WORD sentinel instead of unicode chars). On a pure-ASCII
    corpus the learned merges are the char-level merges hex-encoded
    1:1 (test-pinned).

    Word source caveat (round-6 review finding): the engine's default
    tokenizer (``_word_counts``) sanitizes with the reference's ASCII
    ``\\w``, which DELETES every non-ASCII character before training —
    so with ``unicode_words=False`` no multi-byte merge can ever be
    learned and the byte alphabet only buys segment-time robustness.
    Pass ``unicode_words=True`` to train on a unicode-preserving word
    source (lowercase + whitespace split, punctuation kept) so
    multi-byte characters actually reach the trainer and EARN their
    merges — the BBPE property modern pipelines want."""
    if unicode_words:
        from hadoop_map_reduce_spark.functions.text import tokenize

        # (?U) makes Java's \s match ALL unicode whitespace (U+3000
        # ideographic space, U+00A0 NBSP, ...) — plain \s is ASCII-only
        # and would agglutinate words on exactly the non-ASCII corpora
        # this flag exists for (round-6 review finding).
        words = (
            docs.select(
                F.explode(
                    tokenize(F.lower(F.col(text_col)), pattern=r"(?U)\s+")
                ).alias("word")
            )
            .groupBy("word")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
    else:
        words = _word_counts(docs, text_col)
    rows = _bounded_word_rows(words, max_distinct_words)
    table = [
        (_byte_symbols_py(r["word"]) + [END_OF_WORD], int(r["cnt"]))
        for r in rows
    ]
    return _train_merges_py(table, n_merges, min_pair_count)


def bbpe_segment(tokens, merges: list[tuple[int, str, str, int]]):
    """Byte-level twin of :func:`bpe_segment`: each token becomes its
    BBPE symbol sequence (hex-pair base symbols; merged symbols are
    concatenated hex). Decode a symbol with
    ``decode(unhex(symbol), 'UTF-8')`` — merges never cross the
    END_OF_WORD sentinel, and byte merges may straddle unicode char
    boundaries by design (bytes are the alphabet, chars are not)."""
    def segment_one(tok):
        syms = F.concat(byte_symbols(tok), F.array(F.lit(END_OF_WORD)))
        for _, lhs, rhs, _n in merges:
            syms = _merge_pair(syms, lhs, rhs)
        return syms

    return F.flatten(F.transform(tokens, segment_one))
