"""Corpus-curation operators for training-data pipelines (r11).

Published, deterministic curation stages the reference engine's users
run in front of every large-scale LLM training job, each with an exact
cross-engine oracle (DuckDB / Python re) in tests/test_curation.py:

- ``repetition_signals`` — the Gopher repetition statistics (Rae et al.
  2021, "Scaling Language Models", Table A1): duplicate line / line-char
  fractions per document, plus the top-n-gram and duplicate-n-gram
  character-coverage fractions that catch boilerplate and degenerate
  machine-generated text.
- ``ngram_contamination`` — benchmark decontamination by n-gram
  collision (the GPT-3 appendix-C method, Brown et al. 2020): a training
  document is flagged when any normalized 13-gram also appears in an
  evaluation set.
- ``curate_text`` / ``TextPolicy`` — the one-pass policy operator that
  composes every text signal the engine computes (length, language,
  quality, PII, repetition) into a per-document disposition, mirroring
  ``operators/curate.py``'s media surface: every input row comes back
  with its full signal vector and a ``status`` of ``kept`` or
  ``filtered:<first-failing-constraint>`` — the filter log IS the audit
  trail.
- ``mix_rates`` / ``sample_corpus_mix`` — deterministic training-mix
  construction (per-source rates from token/doc budgets; md5-threshold
  draws reproducible across engines and monotone under budget growth).
- ``pack_chunks`` — sequence packing: chunk rows fill ~budget-token
  training windows per source group via one window cumsum.

Scale shape (100 TB): every repetition signal is a PER-DOCUMENT
statistic, so none of them needs data movement at all — the first cut
exploded (doc, n, gram) rows and aggregated them back (two shuffles of
~9x the corpus token count to compute row-local facts; r11 review
finding).  Both shipped implementations are zero-shuffle narrow maps:

- ``impl='arrow'`` (default): an Arrow-batched ``mapInPandas`` kernel —
  token-id tuples counted per document (Counter + prefix-sum char
  lengths).  This is the measured-fast path: the pure-SQL fold below
  runs ~0.19M tokens/s because Spark evaluates higher-order-function
  lambdas with struct accumulators INTERPRETED, outside whole-stage
  codegen (the same cliff r10 hit with dim-length zip_with decode —
  SCALE.md r11 records the A/B).
- ``impl='sql'``: sort_array + an O(L) run-length fold (``F.aggregate``)
  per n, no Python anywhere — the semantics reference, cross-checked
  against both the arrow kernel and a DuckDB oracle in
  tests/test_curation.py.

Contamination's default impl broadcasts the (small, loudly capped)
eval-gram set into the same kind of Arrow narrow map — no explode, no
join; ``impl='join'`` keeps oversized eval sets distributed (broadcast
hash join, one aggregation).  The mix filter is pure codegen; packing
is one shuffle on its group columns.

The reference engine (duckdb-faiss-ext) has no text-curation surface;
these extend the engine for the pipelines the 100 TB target serves, the
same way operators/dedup.py extends it for deduplication.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import Mapping, Optional, Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.types import DoubleType, StructField, StructType

from duckdb_faiss_ext_spark.functions import text as T
from duckdb_faiss_ext_spark.session import local_frame

__all__ = [
    "line_stats",
    "repetition_signals",
    "ngram_contamination",
    "TextPolicy",
    "curate_text",
    "mix_hash",
    "mix_rates",
    "sample_corpus_mix",
    "pack_chunks",
]


# --------------------------------------------------------------- line signals


def _nonempty_lines(col) -> Column:
    """Lines = newline-split segments with any non-whitespace content.
    Blank separator lines are not 'duplicates' of each other — counting
    them would flag every multi-paragraph document."""
    return F.filter(
        F.split(T._c(col), "\n"),
        lambda ln: F.length(F.trim(ln)) > 0,
    )


def line_stats(col) -> Column:
    """STRUCT<n_lines INT, dup_line_frac DOUBLE, dup_line_char_frac DOUBLE>
    — the Gopher duplicate-line signals as one pure column expression
    (no shuffle; NULL text -> NULL struct).

    ``dup_line_frac``      = repeated line occurrences (beyond each line's
                             first) / total lines.
    ``dup_line_char_frac`` = characters inside those repeated occurrences
                             / total line characters.
    """
    lines = _nonempty_lines(col)
    distinct = F.array_distinct(lines)
    n = F.size(lines)
    chars = F.aggregate(lines, F.lit(0), lambda acc, ln: acc + F.length(ln))
    dchars = F.aggregate(distinct, F.lit(0), lambda acc, ln: acc + F.length(ln))
    safe_n = F.greatest(n, F.lit(1)).cast("double")
    safe_c = F.greatest(chars, F.lit(1)).cast("double")
    return F.struct(
        n.cast("int").alias("n_lines"),
        ((n - F.size(distinct)) / safe_n).alias("dup_line_frac"),
        ((chars - dchars) / safe_c).alias("dup_line_char_frac"),
    )


# ------------------------------------------------------------ n-gram signals

DEFAULT_TOP_NS = (2, 3, 4)
DEFAULT_DUP_NS = (5, 6, 7, 8, 9, 10)


def _gram_strings(toks: Column, n: int) -> Column:
    """ARRAY<STRING> of the word n-grams of ``toks`` (space-joined).
    Documents shorter than n yield an empty array — the guard matters
    because sequence(1, 0) would produce a DESCENDING sequence, not an
    empty one."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - n + 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


_B = lambda v: F.lit(v).cast("bigint")  # noqa: E731


def _run_length_stats(sorted_grams: Column) -> Column:
    """STRUCT<top_cov BIGINT, dup_cov BIGINT> from a SORTED gram array,
    via one O(L) run-length fold — equal grams are adjacent after
    sort_array, so "count per distinct gram" is just run lengths:

    - ``top_cov`` = cnt*len(gram) of the most frequent gram (ties toward
      larger coverage — the same (cnt, cov) lexicographic max the
      explode/groupBy formulation's max(struct(cnt, cov)) computes);
    - ``dup_cov`` = sum of cnt*len(gram) over grams with cnt > 1.

    This keeps the whole statistic inside the row: no explode, no
    shuffle, no join back (the first cut paid two corpus-width shuffles
    for this per-document fact)."""
    g = sorted_grams

    def step(acc: Column, x: Column) -> Column:
        same = x == acc["prev"]
        # a differing gram closes acc.prev's run: fold it into top/dup
        cov = acc["run"] * F.length(acc["prev"])
        better = (acc["run"] > acc["top_cnt"]) | (
            (acc["run"] == acc["top_cnt"]) & (cov > acc["top_cov"])
        )
        return F.struct(
            x.alias("prev"),
            F.when(same, acc["run"] + _B(1)).otherwise(_B(1)).alias("run"),
            F.when(same | ~better, acc["top_cnt"])
            .otherwise(acc["run"])
            .alias("top_cnt"),
            F.when(same | ~better, acc["top_cov"]).otherwise(cov).alias(
                "top_cov"
            ),
            F.when(same, acc["dup"])
            .otherwise(
                acc["dup"] + F.when(acc["run"] > 1, cov).otherwise(_B(0))
            )
            .alias("dup"),
        )

    def finish(acc: Column) -> Column:
        cov = acc["run"] * F.length(acc["prev"])
        better = (acc["run"] > acc["top_cnt"]) | (
            (acc["run"] == acc["top_cnt"]) & (cov > acc["top_cov"])
        )
        return F.struct(
            F.when(better, cov).otherwise(acc["top_cov"]).alias("top_cov"),
            (
                acc["dup"] + F.when(acc["run"] > 1, cov).otherwise(_B(0))
            ).alias("dup_cov"),
        )

    init = F.struct(
        F.element_at(g, 1).alias("prev"),
        _B(1).alias("run"),
        _B(0).alias("top_cnt"),
        _B(0).alias("top_cov"),
        _B(0).alias("dup"),
    )
    empty = F.struct(_B(0).alias("top_cov"), _B(0).alias("dup_cov"))
    return F.when(
        F.size(g) > 0,
        F.aggregate(F.slice(g, 2, F.size(g) - 1), init, step, finish),
    ).otherwise(empty)


def _rep_signal_fields(top_ns, dup_ns) -> list:
    from pyspark.sql.types import DoubleType, IntegerType, LongType, StructField

    return (
        [
            StructField("n_chars", LongType()),
            StructField("n_lines", IntegerType()),
            StructField("dup_line_frac", DoubleType()),
            StructField("dup_line_char_frac", DoubleType()),
        ]
        + [
            StructField(f"top_{n}gram_char_frac", DoubleType())
            for n in top_ns
        ]
        + [
            StructField(f"dup_{n}gram_char_frac", DoubleType())
            for n in dup_ns
        ]
    )


def _repetition_arrow(
    df: DataFrame,
    text_col: str,
    passthrough: list,
    top_ns: tuple,
    dup_ns: tuple,
    coverage: str = "multiset",
) -> DataFrame:
    """Arrow-batched kernel for repetition_signals: per-document Counter
    over token-ID tuples (ints, never gram strings) with prefix-sum char
    lengths — ~100x the interpreted higher-order-function fold (SCALE.md
    r11).  Semantics are pinned equal to the SQL impl and the DuckDB
    oracle by tests/test_curation.py.

    ``coverage='union'`` (r13, VERDICT r12 task 7): count each covered
    character ONCE — the Rae et al. 2021 convention its thresholds were
    published against ("taking care to count characters only once when
    n-grams overlap").  Each occurrence covers its char interval in the
    space-joined token stream (tokens + its n-1 internal separators);
    intervals are merged before summing, so the two modes agree exactly
    whenever no occurrences overlap and union <= multiset always."""
    import re as _re

    import pandas as pd
    from pyspark.sql.types import StructField, StructType

    all_ns = tuple(dict.fromkeys(top_ns + dup_ns))
    in_fields = {f.name: f for f in df.schema.fields}
    out_schema = StructType(
        [in_fields[c] for c in passthrough]
        + _rep_signal_fields(top_ns, dup_ns)
    )
    from collections import Counter

    tok_re = _re.compile(r"[a-z0-9]+")
    frac_cols = [f.name for f in _rep_signal_fields(top_ns, dup_ns)]

    def row_signals(text):
        if text is None:
            return [0, 0, 0.0, 0.0] + [0.0] * (len(top_ns) + len(dup_ns))
        # strip(' ') not strip(): Spark/DuckDB trim() removes only SPACE
        # characters, so a tab-only separator line is a (non-blank) line
        # under the sql impl and must be here too (r11 review finding —
        # Python's bare strip() silently diverged on '\t'-only lines)
        lines = [ln for ln in text.split("\n") if ln.strip(" ")]
        n_lines = len(lines)
        distinct = set(lines)
        chars = sum(len(ln) for ln in lines)
        dchars = sum(len(ln) for ln in distinct)
        out = [
            len(text),
            n_lines,
            (n_lines - len(distinct)) / max(n_lines, 1),
            (chars - dchars) / max(chars, 1),
        ]
        toks = tok_re.findall(text.lower())
        ids_of: dict = {}
        ids = [ids_of.setdefault(t, len(ids_of)) for t in toks]
        id_len = [0] * len(ids_of)
        for t, i in ids_of.items():
            id_len[i] = len(t)
        safe_chars = max(len(text), 1)
        stats = {}
        if coverage == "union":
            pre = [0]
            for i in ids:
                pre.append(pre[-1] + id_len[i])

            def union_cov(starts, n):
                """Merged-interval coverage in CHAR coordinates of the
                space-joined token stream: occurrence [s, s+n) covers the
                half-open char interval [pre[s]+s, pre[s+n]+s+n-1) — its
                tokens plus its n-1 INTERNAL separators.  Union over
                sorted starts; the separator between two occurrences that
                merely touch belongs to NEITHER and is not counted, so
                union <= multiset always (overlap is the only thing the
                union removes — the paper's 'count characters only once
                when n-grams overlap')."""
                cov, cur_s, cur_e = 0, -1, -1
                for s in starts:
                    cs = pre[s] + s
                    ce = pre[s + n] + s + n - 1
                    if cur_e < 0 or cs > cur_e:
                        if cur_e >= 0:
                            cov += cur_e - cur_s
                        cur_s, cur_e = cs, ce
                    elif ce > cur_e:
                        cur_e = ce
                if cur_e >= 0:
                    cov += cur_e - cur_s
                return cov

            for n in all_ns:
                if len(ids) < n:
                    stats[n] = (0, 0)
                    continue
                occ: dict = {}
                for i, gram in enumerate(zip(*[ids[j:] for j in range(n)])):
                    occ.setdefault(gram, []).append(i)
                # top gram: max count, then union coverage, then EARLIEST
                # first occurrence — fully deterministic and expressible
                # in the DuckDB twin (tests/test_curation.py)
                top_key = (0, 0, 0)
                for starts in occ.values():
                    key = (len(starts), union_cov(starts, n), -starts[0])
                    if key > top_key:
                        top_key = key
                dup_starts = sorted(
                    s
                    for starts in occ.values()
                    if len(starts) > 1
                    for s in starts
                )
                stats[n] = (top_key[1], union_cov(dup_starts, n))
        else:
            for n in all_ns:
                if len(ids) < n:
                    stats[n] = (0, 0)
                    continue
                cnt = Counter(zip(*[ids[i:] for i in range(n)]))
                top_key, dup_cov = (0, 0), 0
                for gram, c in cnt.items():
                    cov = c * (sum(id_len[g] for g in gram) + n - 1)
                    if (c, cov) > top_key:
                        top_key = (c, cov)
                    if c > 1:
                        dup_cov += cov
                stats[n] = (top_key[1], dup_cov)
        out += [stats[n][0] / safe_chars for n in top_ns]
        out += [stats[n][1] / safe_chars for n in dup_ns]
        return out

    def run(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            sig = pd.DataFrame(
                [row_signals(t) for t in pdf[text_col]], columns=frac_cols
            )
            out = pdf[passthrough].reset_index(drop=True)
            for c in frac_cols:
                out[c] = sig[c]
            yield out

    return df.mapInPandas(run, out_schema)


def repetition_signals(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_ns: Sequence[int] = DEFAULT_TOP_NS,
    dup_ns: Sequence[int] = DEFAULT_DUP_NS,
    impl: str = "arrow",
    coverage: str = "multiset",
) -> DataFrame:
    """Per-document repetition statistics (Gopher Table A1): one row per
    input document with

    - ``n_chars``, ``n_lines``, ``dup_line_frac``, ``dup_line_char_frac``
    - ``top_{n}gram_char_frac`` for n in ``top_ns``: characters covered by
      all occurrences of the single most frequent word n-gram / document
      characters (ties broken toward the larger coverage, then it does
      not matter — equal counts and equal coverage are interchangeable);
    - ``dup_{n}gram_char_frac`` for n in ``dup_ns``: characters covered by
      all occurrences of n-grams that appear more than once / document
      characters.

    ``coverage`` picks the occurrence-overlap convention (r13, VERDICT
    r12 task 7):
    - ``'multiset'`` (default): every occurrence's characters count
      independently, so overlapping occurrences can push a fraction above
      1.0 on degenerate text ("a b a b a b ...") — exactly the documents
      the thresholds exist to reject; the published filters compare
      against caps well below 1, so the fractions are deliberately NOT
      clamped.  This is the convention with an exact one-expression
      SQL/DuckDB twin, and TextPolicy's defaults filter slightly MORE
      aggressively than the paper under it (documented there).
    - ``'union'``: each covered character counts ONCE (occurrence char
      intervals in the space-joined token stream — tokens plus the n-1
      internal separators — merged before summing) — the convention Rae
      et al. 2021's published thresholds are defined against ("count
      characters only once when n-grams overlap").  union <= multiset
      always; they agree exactly when no occurrences overlap.  Top-gram
      tie-break: count, then union coverage, then earliest first
      occurrence.  Arrow impl only (the per-gram interval merge has no
      bounded one-expression SQL form); DuckDB-twinned in
      tests/test_curation.py.

    Tokenization matches vocab_stats: lowercase alnum runs, so the op has
    an exact DuckDB oracle (tests/test_curation.py).  Grams are joined
    with single spaces; gram character length therefore counts the n-1
    separators — a documented, engine-independent convention.

    Plan shape: zero shuffles, zero joins under BOTH impls.
    ``impl='arrow'`` (default) is one Arrow-batched ``mapInPandas``
    narrow map (see module docstring for why it beats the SQL fold by
    ~100x); ``impl='sql'`` is pure per-row column expressions — line/char
    signals directly, n-gram counts via sort_array + a run-length fold
    per n (``_run_length_stats``), with three-projection layering
    (tokens -> sorted gram arrays -> stats) so Catalyst's CollapseProject
    does not inline the expensive arrays into every one of their
    consumers.  Documents with no grams (short or NULL text) appear with
    zero fractions.

    Every input column except ``text_col`` passes through unchanged (the
    op behaves like a withColumns), so callers chain it without a join;
    input columns whose names collide with a signal column are replaced
    by the signal."""
    top_ns = tuple(dict.fromkeys(int(n) for n in top_ns))
    dup_ns = tuple(dict.fromkeys(int(n) for n in dup_ns))
    if any(n < 1 for n in top_ns + dup_ns):
        raise ValueError(f"repetition_signals: n must be >= 1, got {top_ns + dup_ns}")
    if impl not in ("arrow", "sql"):
        raise ValueError(f"repetition_signals: impl must be arrow|sql, got {impl!r}")
    if coverage not in ("multiset", "union"):
        raise ValueError(
            f"repetition_signals: coverage must be multiset|union, got "
            f"{coverage!r}"
        )
    if coverage == "union" and impl != "arrow":
        raise ValueError(
            "repetition_signals: coverage='union' is Arrow-only (the "
            "per-gram interval merge has no bounded one-expression SQL "
            "form); use impl='arrow'"
        )
    # id_col is not consumed (every non-text column passes through), but a
    # typo'd name must fail loudly rather than silently mean nothing
    for c in (text_col, id_col):
        if c not in df.columns:
            raise ValueError(f"repetition_signals: no column {c!r} in {df.columns}")
    all_ns = tuple(dict.fromkeys(top_ns + dup_ns))

    signal_names = (
        ["n_chars", "n_lines", "dup_line_frac", "dup_line_char_frac"]
        + [f"top_{n}gram_char_frac" for n in top_ns]
        + [f"dup_{n}gram_char_frac" for n in dup_ns]
    )
    passthrough = [
        c for c in df.columns if c != text_col and c not in signal_names
    ]
    if impl == "arrow":
        return _repetition_arrow(
            df, text_col, passthrough, top_ns, dup_ns, coverage
        )

    text = F.col(text_col)
    toks = F.regexp_extract_all(F.lower(text), F.lit("[a-z0-9]+"), F.lit(0))
    ls = line_stats(text)
    line_cols = [
        F.coalesce(F.length(text), F.lit(0)).cast("bigint").alias("n_chars"),
        F.coalesce(ls["n_lines"], F.lit(0)).alias("n_lines"),
        F.coalesce(ls["dup_line_frac"], F.lit(0.0)).alias("dup_line_frac"),
        F.coalesce(ls["dup_line_char_frac"], F.lit(0.0)).alias(
            "dup_line_char_frac"
        ),
    ]
    base = df.select(*passthrough, *line_cols, toks.alias("__toks"))
    carried = passthrough + signal_names[:4]
    sorted_grams = base.select(
        *carried,
        *[
            F.sort_array(_gram_strings(F.col("__toks"), n)).alias(f"__g{n}")
            for n in all_ns
        ],
    )
    stats = sorted_grams.select(
        *carried,
        *[
            _run_length_stats(F.col(f"__g{n}")).alias(f"__s{n}")
            for n in all_ns
        ],
    )
    safe_chars = F.greatest(F.col("n_chars"), F.lit(1)).cast("double")
    return stats.select(
        *carried,
        *[
            (F.col(f"__s{n}")["top_cov"] / safe_chars).alias(
                f"top_{n}gram_char_frac"
            )
            for n in top_ns
        ],
        *[
            (F.col(f"__s{n}")["dup_cov"] / safe_chars).alias(
                f"dup_{n}gram_char_frac"
            )
            for n in dup_ns
        ],
    )


# ------------------------------------------------------------- contamination


def _contamination_arrow(
    docs: DataFrame,
    eval_df: DataFrame,
    n: int,
    text_col: str,
    id_col: str,
    eval_text_col: str,
    max_eval_grams: int,
) -> DataFrame:
    """Broadcast-set kernel for ngram_contamination: the eval grams are
    collected (bounded) and shipped as a frozenset; each corpus document
    is scored inside one Arrow batch — tokenize, window, set-membership.
    Gram normalization is pinned identical to the JVM path (lowercase
    alnum tokens, single-space join) by the impl-equivalence test."""
    import re as _re

    import pandas as pd

    tok_re = _re.compile(r"[a-z0-9]+")

    # bounded driver data: an eval benchmark is small by definition; an
    # oversized one must fail loudly, not truncate silently.  The eval
    # side grams in the same kind of Arrow kernel as the corpus side —
    # the JVM transform/concat_ws lambda formulation runs interpreted
    # and costs ~30 s per 100k eval docs (SCALE.md r11).
    def eval_grams_kernel(batches):
        for pdf in batches:
            grams = set()
            for text in pdf[eval_text_col]:
                if text is None:
                    continue
                toks = tok_re.findall(text.lower())
                grams.update(
                    " ".join(toks[i : i + n])
                    for i in range(len(toks) - n + 1)
                )
            yield pd.DataFrame({"gram": sorted(grams)})

    rows = (
        eval_df.select(eval_text_col)
        .mapInPandas(eval_grams_kernel, "gram string")
        .distinct()
        .limit(max_eval_grams + 1)
        .collect()
    )
    if len(rows) > max_eval_grams:
        raise ValueError(
            f"ngram_contamination: eval set exceeds max_eval_grams="
            f"{max_eval_grams} distinct {n}-grams; pass impl='join' to "
            "keep the eval side distributed, or raise the cap"
        )
    eset = frozenset(r["gram"] for r in rows)
    bc = docs.sparkSession.sparkContext.broadcast(eset)
    id_field = [f for f in docs.schema.fields if f.name == id_col][0]
    schema = (
        f"{id_col} {id_field.dataType.simpleString()}, n_grams bigint, "
        "n_contaminated bigint, contam_frac double, is_contaminated boolean"
    )

    def run(batches):
        ev = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out = []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                toks = tok_re.findall(text.lower()) if text is not None else []
                grams = {
                    " ".join(toks[i : i + n])
                    for i in range(len(toks) - n + 1)
                }
                hits = sum(1 for g in grams if g in ev)
                out.append(
                    (did, len(grams), hits, hits / max(len(grams), 1),
                     hits > 0)
                )
            yield pd.DataFrame(
                out,
                columns=[
                    id_col, "n_grams", "n_contaminated", "contam_frac",
                    "is_contaminated",
                ],
            )

    return docs.select(id_col, text_col).mapInPandas(run, schema)


def ngram_contamination(
    docs: DataFrame,
    eval_df: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_text_col: str = "text",
    impl: str = "arrow",
    max_eval_grams: int = 2_000_000,
) -> DataFrame:
    """Benchmark-decontamination check (GPT-3 appendix C): flag training
    documents sharing any normalized word ``n``-gram with an evaluation
    set.  Returns one row per input document:

    ``(id_col, n_grams, n_contaminated, contam_frac, is_contaminated)``

    where ``n_grams`` counts the document's DISTINCT n-grams and
    ``n_contaminated`` how many of those also occur anywhere in
    ``eval_df``.  Normalization = lowercase alnum tokenization (the
    repo-wide convention), so paraphrase-level contamination is out of
    scope by design — this is the published exact-overlap method.

    Texts shorter than ``n`` tokens have no n-grams: ``n_grams = 0`` and
    the document cannot be flagged.  Use a smaller ``n`` for short-form
    eval sets (the GPT-3 paper itself scales N with example length).

    ``id_col`` values are expected UNIQUE and non-NULL (they are document
    identities): rows sharing an id come back as one merged row under
    ``impl='join'`` (the aggregation groups on the id) but as one row
    per input row under ``impl='arrow'`` — the impl-equivalence contract
    only holds for well-formed ids.

    Scale shape: the eval side is always tiny relative to a 100 TB
    corpus (it is a benchmark), so the default ``impl='arrow'`` collects
    its distinct grams to the driver (hard-capped at ``max_eval_grams``
    — a loud error, never silent truncation), broadcasts the set, and
    counts per-document hits inside ONE Arrow-batched narrow map: no
    explode, no join, no shuffle, and ~an order of magnitude faster than
    building 13-gram strings with interpreted JVM lambdas (SCALE.md
    r11).  ``impl='join'`` keeps everything distributed for oversized
    eval sets: per-document distinct grams explode into a broadcast hash
    join and one aggregation — only per-document partial counts reach
    the shuffle.  Both impls are pinned equal to each other and to a
    DuckDB oracle in tests/test_curation.py."""
    if n < 1:
        raise ValueError(f"ngram_contamination: n must be >= 1, got {n}")
    if impl not in ("arrow", "join"):
        raise ValueError(
            f"ngram_contamination: impl must be arrow|join, got {impl!r}"
        )

    def doc_grams(col) -> Column:
        toks = F.regexp_extract_all(
            F.lower(T._c(col)), F.lit("[a-z0-9]+"), F.lit(0)
        )
        return F.array_distinct(
            F.when(
                F.size(toks) >= n,
                F.transform(
                    F.sequence(F.lit(1), F.size(toks) - n + 1),
                    lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
                ),
            ).otherwise(F.array().cast("array<string>"))
        )

    if impl == "arrow":
        return _contamination_arrow(
            docs, eval_df, n, text_col, id_col, eval_text_col, max_eval_grams
        )

    eval_grams = (
        eval_df.select(F.explode(doc_grams(eval_text_col)).alias("gram"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    # explode_outer keeps gram-less documents (short/NULL text) as one
    # NULL-gram row, so ONE aggregation yields both counts — no second
    # join back to the document side (r11 review: the first cut re-joined
    # base, a whole extra shuffle for a count the explode already knew)
    exploded = docs.select(
        F.col(id_col),
        F.explode_outer(doc_grams(text_col)).alias("gram"),
    )
    counts = (
        exploded.join(F.broadcast(eval_grams), on="gram", how="left")
        .groupBy(id_col)
        .agg(
            F.count("gram").alias("n_grams"),
            F.count("__hit").alias("n_contaminated"),
        )
    )
    return counts.select(
        id_col,
        "n_grams",
        "n_contaminated",
        (
            F.col("n_contaminated")
            / F.greatest(F.col("n_grams"), F.lit(1)).cast("double")
        ).alias("contam_frac"),
        (F.col("n_contaminated") > 0).alias("is_contaminated"),
    )


# ------------------------------------------------------------ one-pass policy


@dataclass(frozen=True)
class TextPolicy:
    """Declarative document-quality policy (Gopher's rule set, Rae et al.
    2021 A.1.1, parameterized).  ``None`` disables a constraint.  Order of
    evaluation = field order below; ``status`` names the FIRST failing
    constraint, so tightening one rule never re-labels rows it already
    passed.

    ``max_top_ngram_frac`` / ``max_dup_ngram_frac`` map n -> cap; their
    keys select which repetition columns are computed, so an empty map
    skips that signal's cost entirely.

    Threshold provenance caveat: the default caps reuse Gopher's
    published numbers (Rae et al. 2021 Table A1), but
    ``repetition_signals`` counts every occurrence's characters
    independently (overlaps double-counted — see its docstring) while the
    paper's fractions are over the UNION of covered character positions.
    On overlap-heavy documents our fractions run higher than the paper's,
    so these defaults filter repetitive text somewhat MORE aggressively
    than the published rule set — the conservative direction for a
    training-data filter, and the convention with an exact SQL/DuckDB
    twin.  Loosen the caps if you need literal-paper behavior."""

    min_tokens: Optional[int] = 5
    max_tokens: Optional[int] = None
    min_mean_word_chars: Optional[float] = None  # Gopher uses 3
    max_mean_word_chars: Optional[float] = None  # Gopher uses 10
    allowed_langs: Optional[tuple] = None
    min_quality: Optional[float] = None
    max_pii_count: Optional[int] = None
    max_dup_line_frac: Optional[float] = 0.30
    max_dup_line_char_frac: Optional[float] = 0.20
    max_top_ngram_frac: Mapping[int, float] = field(
        default_factory=lambda: {2: 0.20, 3: 0.18, 4: 0.16}
    )
    max_dup_ngram_frac: Mapping[int, float] = field(
        default_factory=lambda: {
            5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10,
        }
    )


def curate_text(
    df: DataFrame,
    policy: TextPolicy | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    impl: str = "arrow",
) -> DataFrame:
    """One-pass text curation: compute every signal the policy consults,
    evaluate constraints in declaration order, and return EVERY input row
    with its signal vector plus ``status`` — ``kept``, ``filtered:<rule>``
    or ``filtered:null_text``.  ``out.filter("status = 'kept'")`` is the
    training corpus; the rest is the per-rule audit trail a curation run
    has to report anyway (mirrors operators/curate.py for media).

    All signals are per-row SQL expressions over ONE corpus scan — the
    repetition signals chain through ``repetition_signals``'s
    column-passthrough form, so the whole operator is a zero-shuffle
    narrow map (the first cut joined a separate aggregate back on doc_id;
    the join vanished with the r11 fold rewrite).  Signals whose
    constraints are disabled are still emitted (they are nearly free on
    the same scan) EXCEPT the n-gram fractions, which are computed only
    for the n values the policy actually caps."""
    # validate impl HERE, not only inside repetition_signals: a policy
    # with no repetition constraints skips that call entirely and an
    # invalid impl would be silently accepted (ADVICE r12)
    if impl not in ("arrow", "sql"):
        raise ValueError(
            f"curate_text: impl must be 'arrow' or 'sql', got {impl!r}"
        )
    policy = policy or TextPolicy()
    top_ns = tuple(sorted(policy.max_top_ngram_frac or {}))
    dup_ns = tuple(sorted(policy.max_dup_ngram_frac or {}))

    text = F.col(text_col)
    # two-layer projection: the count subtrees (tokenize/stopwords/punct)
    # are computed ONCE here, then lang/quality combine the columns.  One
    # flat projection would inline each count into every consumer (the
    # lang CASE alone references each stopword score ~7x) and balloon the
    # generated code — measured 17 s -> ~7 s at 100k docs (SCALE.md r11).
    pre = df.select(
        F.col(id_col),
        text,
        T.token_count(text).alias("n_tokens"),
        T.char_count(text).alias("n_chars"),
        T.punct_count(text).alias("__punct"),
        *[
            T.stopword_count(text, lang).alias(f"__stop_{lang}")
            for lang in T.LANG_ORDER
        ],
        T.has_cjk(text).alias("__cjk"),
        T.pii_count(text).alias("n_pii"),
    )
    sig = pre.select(
        id_col,
        text_col,
        "n_tokens",
        "n_chars",
        T.lang_from_scores(
            {lang: F.col(f"__stop_{lang}") for lang in T.LANG_ORDER},
            F.col("__cjk"),
        ).alias("lang"),
        T.quality_from_parts(
            F.col("n_chars"),
            F.greatest(F.col("n_tokens"), F.lit(1)),
            F.col("__punct"),
            F.col("__stop_en"),
        ).alias("quality"),
        "n_pii",
    )
    if top_ns or dup_ns or policy.max_dup_line_frac is not None or (
        policy.max_dup_line_char_frac is not None
    ):
        # passthrough form: appends the repetition columns per row and
        # drops text_col (n_chars is replaced by the coalesced-0 variant)
        sig = repetition_signals(
            sig,
            text_col=text_col,
            id_col=id_col,
            top_ns=top_ns,
            dup_ns=dup_ns,
            impl=impl,
        )
    else:
        sig = sig.drop(text_col)
    mean_word = (F.col("n_chars") - (F.col("n_tokens") - 1)) / F.greatest(
        F.col("n_tokens"), F.lit(1)
    ).cast("double")
    sig = sig.withColumn("mean_word_chars", mean_word)

    checks: list[tuple[str, Column]] = [
        # token_count is NULL exactly when text is NULL
        ("null_text", F.col("n_tokens").isNull()),
    ]
    if policy.min_tokens is not None:
        checks.append(("min_tokens", F.col("n_tokens") < policy.min_tokens))
    if policy.max_tokens is not None:
        checks.append(("max_tokens", F.col("n_tokens") > policy.max_tokens))
    if policy.min_mean_word_chars is not None:
        checks.append(
            (
                "min_mean_word_chars",
                F.col("mean_word_chars") < policy.min_mean_word_chars,
            )
        )
    if policy.max_mean_word_chars is not None:
        checks.append(
            (
                "max_mean_word_chars",
                F.col("mean_word_chars") > policy.max_mean_word_chars,
            )
        )
    if policy.allowed_langs is not None:
        checks.append(
            ("allowed_langs", ~F.col("lang").isin(*policy.allowed_langs))
        )
    if policy.min_quality is not None:
        checks.append(("min_quality", F.col("quality") < policy.min_quality))
    if policy.max_pii_count is not None:
        checks.append(("max_pii_count", F.col("n_pii") > policy.max_pii_count))
    if policy.max_dup_line_frac is not None:
        checks.append(
            ("max_dup_line_frac", F.col("dup_line_frac") > policy.max_dup_line_frac)
        )
    if policy.max_dup_line_char_frac is not None:
        checks.append(
            (
                "max_dup_line_char_frac",
                F.col("dup_line_char_frac") > policy.max_dup_line_char_frac,
            )
        )
    for n in top_ns:
        checks.append(
            (
                f"max_top_{n}gram_frac",
                F.col(f"top_{n}gram_char_frac") > policy.max_top_ngram_frac[n],
            )
        )
    for n in dup_ns:
        checks.append(
            (
                f"max_dup_{n}gram_frac",
                F.col(f"dup_{n}gram_char_frac") > policy.max_dup_ngram_frac[n],
            )
        )

    status = F.lit("kept")
    for name, failed in reversed(checks):
        status = F.when(failed, F.lit(f"filtered:{name}")).otherwise(status)
    return sig.withColumn("status", status)


# ------------------------------------------------------------- corpus mixing


def mix_hash(id_col, seed: int = 0) -> Column:
    """Deterministic uniform [0, 1) draw per document: the first 8 hex
    digits of md5(seed:id) as a fraction of 2^32.  The SAME formula is
    expressible verbatim in ANSI SQL (md5 + substr + hex cast), so
    sampling decisions are reproducible across engines and across runs —
    a training-mix manifest must be re-derivable, never a Bernoulli coin
    flip nobody can replay (tests pin Spark == DuckDB on the raw hash).
    NULL ids hash to NULL and therefore never sample in — ids are the
    reproducibility key, so a row without one has no stable draw."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{seed}:"), T._c(id_col).cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    return h / F.lit(float(2**32))


def mix_rates(
    df: DataFrame,
    targets: Mapping[str, float],
    source_col: str = "source",
    size_col: Optional[str] = None,
) -> dict:
    """Per-source sampling rates that hit ``targets`` (source -> target
    docs, or target SIZE when ``size_col`` names a per-row size such as a
    token count): rate = min(1, target / current).  Sources missing from
    ``targets`` get rate 0.0 (dropped — a mix is a whitelist); targets
    naming absent sources get rate 1.0 recorded so the caller can see
    the shortfall.  ONE aggregation over the corpus (map-side combine to
    O(sources) rows); the returned plain dict is the audit artifact to
    log next to the run."""
    size = F.count("*") if size_col is None else F.sum(size_col)
    cur = {
        r["src"]: r["cur"]
        for r in df.groupBy(F.col(source_col).alias("src"))
        .agg(size.alias("cur"))
        .collect()
    }
    rates = {}
    # NULL sources sort via the (is-None, value) key: a real corpus has
    # them, and bare sorted() would raise TypeError mixing None with str
    # (r11 review finding); they get rate 0.0 like any non-target source
    for src in sorted(set(cur) | set(targets), key=lambda s: (s is None, s)):
        if src not in targets:
            rates[src] = 0.0
        elif src not in cur or not cur[src]:
            rates[src] = 1.0
        else:
            rates[src] = min(1.0, float(targets[src]) / float(cur[src]))
    return rates


def _source_lookup(
    df: DataFrame,
    values: Mapping[str, float],
    source_col: str,
    default: float = 0.0,
):
    """Per-row lookup of a small source -> value mapping: a literal CASE
    (pure codegen, rides the scan) up to 256 sources, a broadcast hash
    join above (a thousands-deep CASE expression is its own codegen
    hazard).  Returns (df, value_column); the join path appends a
    ``__mix_val`` column the caller must not leak into its output.
    Either way the CORPUS never shuffles."""
    if len(values) <= 256:
        val = F.lit(float(default))
        for src, v in values.items():
            val = F.when(F.col(source_col) == src, F.lit(float(v))).otherwise(val)
        return df, val
    vals_df = local_frame(
        df.sparkSession,
        StructType(
            [
                StructField(source_col, df.schema[source_col].dataType),
                StructField("__mix_val", DoubleType()),
            ]
        ),
        [(src, float(v)) for src, v in values.items()],
    )
    joined = df.join(F.broadcast(vals_df), on=source_col, how="left").fillna(
        {"__mix_val": float(default)}
    )
    return joined, F.col("__mix_val")


def sample_corpus_mix(
    df: DataFrame,
    rates: Mapping[str, float],
    source_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 0,
    exact: bool = False,
    prefilter: str | None = "auto",
) -> DataFrame:
    """Training-mix construction: keep each row iff its deterministic
    ``mix_hash`` draw falls under its source's rate.  The rate lookup is
    a literal CASE over the (small) mix dict — no join, no shuffle, a
    pure codegen filter the scan can pipeline; sources absent from
    ``rates`` are dropped.  Compose with ``mix_rates`` for token-budget
    mixes: ``sample_corpus_mix(df, mix_rates(df, budgets, size_col=...))``.

    Reproducibility contract: same (rates, seed, ids) -> same sample, on
    any engine (exact DuckDB twin in tests/test_curation.py); changing
    ``seed`` redraws independently.  Growing a source's rate keeps every
    previously sampled row (the draw is per-row and fixed), so
    incremental budget increases are supersets — the property a
    re-mixed training run needs for cache reuse.

    Plan shape: small mixes inline as a literal CASE (pure codegen, the
    filter rides the scan); a web-scale mix with thousands of sources
    would make that CASE a thousands-deep expression, so above 256
    sources the rates ship as a broadcast hash join instead — same
    rows, still no corpus shuffle (both paths covered by one test).

    ``exact=True`` (VERDICT r11 task 4): the Bernoulli draw hits each
    budget only in expectation (documented ~2% error at ~8k docs/source);
    many training-mix specs are exact-count.  In exact mode the mapping
    values are per-source integer TARGET COUNTS, and the sample is the
    first ``k_s`` rows of each source ordered by ``(mix_hash, id)`` —
    still deterministic, engine-portable (same md5 draw; DuckDB twin =
    ``row_number() OVER (PARTITION BY source ORDER BY mix_hash, id)``),
    and still a superset under budget growth (a larger k takes a longer
    prefix of the SAME fixed order).  A source with fewer rows than its
    target contributes all of them.  Cost: one window shuffle partitioned
    by source instead of zero.  At 100 TB a giant source would make that
    window a single-task sort of the whole source, so ``prefilter='auto'``
    (default) first computes per-source corpus counts (one map-side-
    combine agg, O(sources) rows — the same pass ``mix_rates`` already
    pays), pre-filters on ``mix_hash < (k + 6*sqrt(k) + 16) / n`` (zero
    shuffle, keeps ~k rows per source), and windows only the survivors —
    the sort sees the SAMPLE, not the corpus.  The margin makes an
    undershoot astronomically unlikely, and it is VERIFIED, not assumed:
    the function counts the selection per source and raises loudly on any
    mismatch vs min(k, n) (the no-silent-caps rule), which makes exact
    mode eager — it runs two small aggregation jobs at call time, and the
    returned DataFrame comes back CACHED (the ~sum(k)-row sample, persisted
    before the verification count so the caller's first action reuses the
    verified selection instead of re-running the window — ADVICE r12; call
    ``.unpersist()`` on it when done in a long-lived session).
    ``prefilter=None`` skips both the prefilter and the verification
    (exact by construction, fully lazy, but the window sorts whole
    sources)."""
    draw = mix_hash(F.col(id_col), seed)
    if not exact:
        for src, r in rates.items():
            if not 0.0 <= r <= 1.0:
                raise ValueError(f"sample_corpus_mix: rate for {src!r} is {r}")
        looked, rate = _source_lookup(df, rates, source_col)
        return looked.filter(draw < rate).select(*df.columns)

    from pyspark.sql import Window

    counts: dict = {}
    for src, k in rates.items():
        if isinstance(k, bool) or float(k) != int(k) or int(k) < 0:
            raise ValueError(
                f"sample_corpus_mix(exact=True): target for {src!r} must be "
                f"a non-negative integer count, got {k!r}"
            )
        counts[src] = int(k)
    base = df.filter(draw.isNotNull())  # NULL ids have no stable draw
    if prefilter not in (None, "auto"):
        raise ValueError(
            f"sample_corpus_mix: prefilter must be 'auto' or None, got "
            f"{prefilter!r}"
        )
    cur: dict = {}
    if prefilter == "auto":
        cur = {
            r["src"]: r["n"]
            for r in base.groupBy(F.col(source_col).alias("src"))
            .agg(F.count("*").alias("n"))
            .collect()
        }
        # zero-target sources get threshold 0.0 (the default): dropped at
        # the prefilter, BEFORE the window shuffle ever sees them
        thr = {
            s: min(1.0, (k + 6.0 * math.sqrt(k) + 16.0) / n)
            for s, n in cur.items()
            if (k := counts.get(s, 0)) > 0 and n > 0
        }
        looked, t = _source_lookup(base, thr, source_col)
        base = looked.filter(draw < t).select(*df.columns)
    w = (
        Window.partitionBy(source_col)
        .orderBy(draw.asc(), F.col(id_col).asc())
    )
    looked, kcol = _source_lookup(base, counts, source_col)
    out = (
        looked.filter(kcol > 0)  # pre-shuffle prune of zero-target sources
        .withColumn("__mix_rn", F.row_number().over(w))
        .filter(F.col("__mix_rn") <= kcol)
        .select(*df.columns)
    )
    if prefilter == "auto":
        # Cache the selection before the verification count: without it the
        # verification executes the windowed selection once, then the first
        # caller action recomputes it — three corpus scans per call instead
        # of the two aggregation jobs documented above (ADVICE r12).  The
        # cached set is the SAMPLE (~sum(k) rows, bounded by the requested
        # budget), not the corpus; the caller may .unpersist() the returned
        # DataFrame once it has materialized downstream.
        out = out.persist()
        # ADVICE r13: unpersist on ANY failure inside the verification —
        # a Spark job error in the collect (not just a count mismatch)
        # must not leak cached sample blocks in a long-lived session
        try:
            got = {
                r["src"]: r["n"]
                for r in out.groupBy(F.col(source_col).alias("src"))
                .agg(F.count("*").alias("n"))
                .collect()
            }
            for s, k in counts.items():
                expect = min(k, cur.get(s, 0))
                if got.get(s, 0) != expect:
                    raise RuntimeError(
                        f"sample_corpus_mix(exact=True): source {s!r} selected "
                        f"{got.get(s, 0)} rows, expected {expect} — the draw "
                        f"prefilter undershot its margin (corpus ids may be "
                        f"adversarial to the md5 draw); rerun with "
                        f"prefilter=None"
                    )
        except BaseException:
            out.unpersist(blocking=False)  # don't leak cache on the error path
            raise
    return out


# ----------------------------------------------------------- sequence packing


def pack_chunks(
    df: DataFrame,
    budget: int,
    token_col: str = "n_tokens",
    order_cols: Sequence[str] = ("doc_id", "chunk_id"),
    group_cols: Sequence[str] = ("source",),
) -> DataFrame:
    """Sequence packing: assign every chunk a ``pack_id`` so consecutive
    chunks fill ~``budget``-token training sequences — the chunk ->
    context-window step after ``chunk_text`` (T5/LLM "packing").

    Packing discipline (documented, deterministic, exactly SQL-twinned):
    contiguous fill in ``order_cols`` order within each ``group_cols``
    partition — ``pack_id = floor((cumsum(tokens) - tokens) / budget)``,
    i.e. a chunk joins the pack its STARTING offset falls in.  A pack can
    overflow ``budget`` by at most one chunk's tail (the standard
    cumsum approximation; exact first-fit needs a sequential scan that
    neither distributes nor has a window-function twin).  Chunks longer
    than ``budget`` are rejected loudly — produce them with
    ``chunk_text(chunk_chars<=~4*budget)`` instead of silently spanning.
    ``order_cols`` must uniquely order rows within each group (the
    default ``(doc_id, chunk_id)`` does): the cumsum runs over a ROWS
    frame so ties no longer lump peers' tokens together, but tied rows
    would still be packed in an arbitrary (nondeterministic) order.

    Output = input columns + ``pack_id`` (bigint, dense from 0 within
    each group) + ``pack_pos`` (0-based position within the pack).

    Scale shape: one shuffle on ``group_cols`` + an in-partition sort —
    the window never crosses groups, so parallelism = number of groups;
    at 100 TB pack within (source, shard) instead of one global order
    (a global window collapses to a single task, the classic
    window-without-partition trap)."""
    from pyspark.sql import Window

    if budget < 1:
        raise ValueError(f"pack_chunks: budget must be >= 1, got {budget}")
    if not group_cols:
        raise ValueError(
            "pack_chunks: group_cols must be non-empty — a global window "
            "is a single-task plan; pass an explicit shard column"
        )
    # ROWS frame, not the default RANGE: under RANGE, order_cols ties are
    # peers and every tied row gets the SAME cumulative sum (peers' tokens
    # lumped into each other's start offset) while row_number stays
    # per-row — silently mispacked rows (ADVICE r12).  ROWS makes the
    # cumsum per-row; order_cols must still order rows DETERMINISTICALLY
    # within each group (ties leave pack assignment stable only up to the
    # shuffle's tie order), so pass unique keys like (doc_id, chunk_id).
    w = (
        Window.partitionBy(*group_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tok = F.col(token_col).cast("bigint")
    start = F.sum(tok).over(w) - tok
    out = df.withColumn(
        "pack_id", F.floor(start / F.lit(budget)).cast("bigint")
    )
    wp = Window.partitionBy(*group_cols, "pack_id").orderBy(*order_cols)
    out = out.withColumn(
        "pack_pos", (F.row_number().over(wp) - 1).cast("int")
    )
    # loud preconditions: an over-budget chunk would otherwise span packs
    # silently, and a NULL token count would silently NULL the cumsum for
    # the rest of its group.  raise_error rides the same projection — no
    # extra pass, and the job fails at the first offending row.
    return out.withColumn(
        "pack_id",
        F.when(tok.isNull() | (tok > budget), F.raise_error(
            F.concat(
                F.lit(
                    f"pack_chunks: chunk token count NULL or over budget "
                    f"{budget}: "
                ),
                F.coalesce(tok.cast("string"), F.lit("NULL")),
                F.lit(" tokens"),
            )
        ).cast("bigint")).otherwise(F.col("pack_id")),
    )
