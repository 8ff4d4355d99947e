"""Real BPE tokenization over Arrow batches (r6, VERDICT r5 item 3).

``token_count`` in :mod:`text` is a regex approximation ("BPE-ish") — good
enough for filters, wrong for sequence packing, where chunk boundaries
depend on true token counts. This module runs an actual byte-pair-encoding
merge loop (the standard lowest-rank-pair-first algorithm) as an
Arrow-batched ``mapInPandas`` stage with the merges table shipped via a
Spark broadcast variable — the shape a real tokenizer (tiktoken /
sentencepiece vocab) plugs into unchanged.

Oracle story: the merge loop is not SQL-expressible in general (cascading
merges are iterative), but for a vocabulary satisfying three static
constraints the loop provably equals a sequential per-rank string
replacement, which IS SQL-expressible:

1. every merge pair is two distinct single characters (no self-overlap:
   occurrences of a pair cannot share a character, so left-to-right
   global replacement merges exactly the occurrences BPE merges);
2. no merge OUTPUT participates in any later pair (no cascades: merging
   rank r cannot create an occurrence of rank r' > r — placeholders never
   match letter pairs);
3. ranks apply in ascending order in both renderings (rank r may only
   DESTROY later pairs' occurrences — and does so identically in both).

``bpe_replay_sql`` generates that replacement chain for DuckDB (each
merged pair becomes an unused single placeholder character, so the final
token count is just the non-space character count) and REFUSES
vocabularies outside the constraints. The Python kernel itself is the
general algorithm — cascading vocabularies work and are pytest-covered;
they simply cannot carry an exact SQL oracle.

Scale: per-task work is a memoized per-WORD merge loop (natural-language
corpora repeat words heavily; the memo hit rate is the Zipf mass), zero
shuffle, and the broadcast merges table is KB-sized. At 100 TB this is
embarrassingly parallel scan work.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

# Toy merge table used by the catalog query: common English/sql-corpus
# digraphs. Satisfies the oracle constraints (distinct single chars, no
# cascades). Rank = list position.
TOY_MERGES: tuple[tuple[str, str], ...] = (
    ("t", "h"),
    ("e", "r"),
    ("s", "t"),
    ("a", "n"),
    ("i", "n"),
    ("o", "n"),
    ("l", "e"),
    ("r", "o"),
)


def _normalize(text: str) -> str:
    """Python twin of text.norm_text / the oracle's _NORM_SQL."""
    return re.sub(r"\s+", " ", text or "").strip().lower()


def bpe_segment(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Standard BPE merge loop: repeatedly merge every occurrence of the
    lowest-ranked adjacent symbol pair until no pair is in the vocab.
    Fully general — handles cascading vocabularies (outputs feeding later
    merges) exactly like reference BPE implementations."""
    syms = list(word)
    while len(syms) > 1:
        best_pair = None
        best_rank = None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_pair = r, (syms[i], syms[i + 1])
        if best_pair is None:
            break
        left, right = best_pair
        out: list[str] = []
        i = 0
        while i < len(syms):
            if (
                i < len(syms) - 1
                and syms[i] == left
                and syms[i + 1] == right
            ):
                out.append(left + right)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def bpe_token_counts(
    df: DataFrame,
    merges: tuple[tuple[str, str], ...] = TOY_MERGES,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, ws_tokens, bpe_tokens[, keep_cols...]) per document: whitespace
    word count and the total BPE symbol count under ``merges``.

    mapInPandas with the merges table as a broadcast variable; per-word
    results are memoized per task (Zipf-heavy corpora hit the memo on
    almost every word). ``keep_cols`` ride along through the batch so
    downstream stages (e.g. shard-keyed sequence packing) need no extra
    join back onto the source."""
    from pyspark.sql import functions as F

    from xml_to_parquet_spark.functions._parallel import size_to_cores
    from xml_to_parquet_spark.session import _ship_package

    # one-split inputs must not serialize the Python BPE work into a
    # single mapInPandas task (no-op at real scale)
    df = size_to_cores(df)
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(tuple(merges))

    def _count(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ranks = {pair: i for i, pair in enumerate(bc.value)}
        memo: dict[str, int] = {}

        def word_tokens(w: str) -> int:
            n = memo.get(w)
            if n is None:
                n = memo[w] = len(bpe_segment(w, ranks))
            return n

        for pdf in batches:
            ids, ws, bpe = [], [], []
            for i, text in zip(pdf[id_col], pdf[text_col]):
                words = [w for w in _normalize(text).split(" ") if w]
                ids.append(int(i))
                ws.append(len(words))
                bpe.append(sum(word_tokens(w) for w in words))
            out = {id_col: ids, "ws_tokens": ws, "bpe_tokens": bpe}
            for c in keep_cols:
                out[c] = list(pdf[c])
            yield pd.DataFrame(out)

    _ship_package(spark)
    keep_schema = "".join(
        f", {c} {df.schema[c].dataType.simpleString()}" for c in keep_cols
    )
    return df.select(
        F.col(id_col), F.col(text_col), *[F.col(c) for c in keep_cols]
    ).mapInPandas(
        _count,
        f"{id_col} long, ws_tokens long, bpe_tokens long{keep_schema}",
    )


#: Symbol-boundary sentinel for the learned-merge representation: every
#: symbol in a word's current segmentation is PREFIXED with this char
#: (stripped from input defensively), so "merge (l, r)" is the plain
#: string replace  SENT+l+SENT+r -> SENT+l+r  with no shared-delimiter
#: ambiguity — replacements are left-to-right non-overlapping in both
#: engines, which is exactly classic BPE's apply-one-round semantics.
SENT = "\x01"


def bpe_learn_merges(
    df: DataFrame,
    num_merges: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> list[tuple[str, str, int]]:
    """Distributed BPE merge TRAINING (VERDICT-r8 #3): learn the
    ``num_merges`` highest-count byte-pair merges from the corpus — the
    step a real 100 TB pipeline runs before :func:`bpe_token_counts`
    applies the table.

    Algorithm (Sennrich et al. 2016, the standard greedy loop), rendered
    Spark-first:

    - ONE corpus pass builds the word-frequency table (explode + map-side
      combined groupBy — shuffle ∝ vocabulary, not corpus), each word
      marked as ``SENT+c`` per character. Training is restricted to
      ASCII-printable words (``^[!-~]+$``) so the char-split is
      codepoint-exact in both engines (Java regex '.' splits surrogate
      pairs where RE2 does not; byte-level BPE sidesteps the issue the
      same way by training on bytes).
    - each round: adjacent-pair counts from the CURRENT segmentation
      (codegen array transform + one groupBy — shuffle ∝ distinct pairs),
      argmax by (count desc, l asc, r asc) collected as ONE driver row
      (model-sized action, the k-means pattern), then one map-only
      ``replace`` re-segments the word table. num_merges rounds = 2
      model-sized jobs per round over a vocabulary-sized table.

    Tie rule and overlap-counting follow the classic implementation:
    pair counts include overlapping positions ("aaa" counts (a,a)
    twice); the apply step merges left-to-right non-overlapping. The
    DuckDB oracle (``bpe_learn_sql``) replays the identical rounds as
    chained CTEs, so the learned table is bit-reproducible.

    Returns ``[(left, right, pair_count), ...]`` in rank order; the
    tuple list feeds :func:`bpe_token_counts` unchanged.
    """
    from pyspark.sql import functions as F

    from xml_to_parquet_spark.functions.text import norm_text
    from xml_to_parquet_spark.session import scoped_conf

    spark = df.sparkSession
    words = (
        df.select(
            F.explode(
                F.split(norm_text(F.col(text_col)), " ")
            ).alias("w")
        )
        .filter(F.col("w").rlike("^[!-~]+$"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            F.regexp_replace("w", "(.)", SENT + "$1").alias("marked"),
            "freq",
        )
        # eager (was lazy): round 1 would materialize it anyway, and the
        # count below sizes the per-round shuffles
        .localCheckpoint(eager=True)
    )
    # per-round pair-count shuffles sized to the VOCABULARY (one
    # partition per ~500k words, capped by the session setting), not the
    # core count — the word table is tiny relative to the corpus, and
    # core-proportional task counts per round only multiply
    # scheduler/codegen overhead (guide §2/§5)
    n_words = words.count()
    sess_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    state_parts = max(1, min(sess_parts, n_words // 500_000 + 1))
    merges: list[tuple[str, str, int]] = []
    cur = words
    with scoped_conf(spark, "spark.sql.shuffle.partitions", state_parts):
        for _ in range(num_merges):
            best = (
                cur.select(
                    "freq",
                    F.expr(f"slice(split(marked, '{SENT}'), 2, 2147483647)")
                    .alias("syms"),
                )
                # adjacent pairs via the 2-arg transform lambda: element
                # i of the head-slice pairs with syms[i+2] (1-based); a
                # 1-symbol word yields an empty slice, so no
                # CASE/sequence guards
                .select(
                    "freq",
                    F.explode(
                        F.expr(
                            "transform(slice(syms, 1, size(syms) - 1), "
                            "(x, i) -> struct(x AS l, "
                            "element_at(syms, i + 2) AS r))"
                        )
                    ).alias("p"),
                )
                .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
                .agg(F.sum("freq").alias("cnt"))
                .orderBy(
                    F.col("cnt").desc(), F.col("l").asc(), F.col("r").asc()
                )
                .limit(1)
                .collect()
            )
            if not best:
                break
            l, r, cnt = best[0]["l"], best[0]["r"], int(best[0]["cnt"])
            merges.append((l, r, cnt))
            cur = cur.select(
                F.replace(
                    F.col("marked"),
                    F.lit(SENT + l + SENT + r),
                    F.lit(SENT + l + r),
                ).alias("marked"),
                "freq",
            ).localCheckpoint(eager=False)
    return merges


def bpe_learn_sql(
    num_merges: int = 8,
    table: str = "documents",
    text_col: str = "text",
    norm_sql: str | None = None,
) -> str:
    """DuckDB oracle twin of :func:`bpe_learn_merges`: the same greedy
    rounds as chained CTEs — same marked-string representation, same
    overlap-counted pair sums, same (cnt desc, l, r) argmax, same
    left-to-right replace — emitting ``(rank, l, r, cnt)``."""
    norm = (
        norm_sql
        or f"lower(trim(regexp_replace({text_col}, '\\s+', ' ', 'g')))"
    )
    parts = [
        f"""w0 AS (
  SELECT regexp_replace(tok, '(.)', chr(1) || '\\1', 'g') AS marked,
         CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT unnest(string_split({norm}, ' ')) AS tok FROM {table})
  WHERE regexp_matches(tok, '^[!-~]+$')
  GROUP BY 1
)"""
    ]
    for i in range(num_merges):
        parts.append(
            f"""p{i} AS (
  SELECT syms[i] AS l, syms[i + 1] AS r, SUM(freq) AS cnt
  FROM (SELECT string_split(marked, chr(1)) AS syms, freq FROM w{i}) t,
       LATERAL (SELECT unnest(generate_series(2, len(syms) - 1)) AS i) g
  GROUP BY 1, 2
)"""
        )
        parts.append(
            f"b{i} AS (SELECT l, r, cnt FROM p{i} "
            "ORDER BY cnt DESC, l, r LIMIT 1)"
        )
        if i < num_merges - 1:
            parts.append(
                f"""w{i + 1} AS (
  SELECT replace(marked, chr(1) || l || chr(1) || r,
                 chr(1) || l || r) AS marked, freq
  FROM w{i}, b{i}
)"""
            )
    union = "\nUNION ALL\n".join(
        f"SELECT {i} AS rank, l, r, CAST(cnt AS BIGINT) AS cnt FROM b{i}"
        for i in range(num_merges)
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT * FROM ({union}) ORDER BY rank"
    )


def bpe_replay_sql(
    norm_sql: str, merges: tuple[tuple[str, str], ...] = TOY_MERGES
) -> str:
    """DuckDB expression for the merged text's BPE token count — valid ONLY
    for vocabularies meeting the module-docstring constraints (checked
    here; a general cascading vocab raises instead of silently emitting a
    wrong oracle)."""
    pairs = [l + r for l, r in merges]
    if len(merges) > 26:
        raise ValueError("replay oracle supports at most 26 merges")
    for li, r in merges:
        if len(li) != 1 or len(r) != 1 or li == r or not (
            li.islower() and r.islower()
        ):
            raise ValueError(
                f"pair ({li!r},{r!r}) breaks the replay constraints"
            )
    # outputs are placeholders (uppercase) — they can never feed a
    # lowercase pair, so the no-cascade constraint holds structurally;
    # only duplicate pairs need an explicit guard
    if len(set(pairs)) != len(pairs):
        raise ValueError("duplicate merge pair in vocabulary")
    expr = norm_sql
    for i, p in enumerate(pairs):
        expr = f"replace({expr}, '{p}', '{chr(65 + i)}')"
    return f"length(replace({expr}, ' ', ''))"
