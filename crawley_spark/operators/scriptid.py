"""Unicode-script profiling — the pre-language-ID routing step of a
multilingual webtext pipeline (CLD/fastText-style pipelines first bucket
pages by dominant writing system; stopword-marker language ID like
``textstats.lang_id`` is only meaningful within an alphabetic script).

The classifier is deliberately a TABLE, not a library probe: explicit
Unicode code-point ranges per script (published Unicode block assignments,
BMP only — no surrogate hazards in either regex engine), compiled into one
character-class count per script. Both Spark (Java regex) and the DuckDB
oracle (RE2) consume patterns GENERATED from the same table and evaluate
them independently — the ``lang_id``/``sniff`` oracle pattern — so the two
sides cannot desynchronize while still cross-checking the counting.

Scale shape (100 TB): pure zero-shuffle JVM projection (``regexp_count``
per script over a pruned two-column scan); the argmax and ppm are plain
integer column expressions. No reference counterpart (s0rg/crawley has no
text stage).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Published Unicode block ranges per script (BMP subset; inclusive).
# Latin deliberately includes the Latin-1/Extended letters but NOT ASCII
# digits/punctuation nor the × (U+00D7) and ÷ (U+00F7) signs inside the
# Latin-1 letter block — counts are letter mass, so markup and numbers never
# vote for a script.
SCRIPT_RANGES: dict[str, list[tuple[int, int]]] = {
    "arabic": [(0x0600, 0x06FF), (0x0750, 0x077F)],
    "cyrillic": [(0x0400, 0x04FF), (0x0500, 0x052F)],
    "devanagari": [(0x0900, 0x097F)],
    "greek": [(0x0370, 0x03FF)],
    "han": [(0x3400, 0x4DBF), (0x4E00, 0x9FFF)],
    "hangul": [(0x1100, 0x11FF), (0xAC00, 0xD7A3)],
    "hebrew": [(0x0590, 0x05FF)],
    "kana": [(0x3040, 0x309F), (0x30A0, 0x30FF)],
    "latin": [
        (0x0041, 0x005A),
        (0x0061, 0x007A),
        (0x00C0, 0x00D6),
        (0x00D8, 0x00F6),
        (0x00F8, 0x024F),
    ],
    "thai": [(0x0E00, 0x0E7F)],
}

PPM = 1_000_000


def script_pattern(script: str) -> str:
    """Single-character class matching the script's code points, in the
    ``\\x{HHHH}`` range syntax Java regex and RE2 read identically."""
    body = "".join(f"\\x{{{a:04X}}}-\\x{{{b:04X}}}" for a, b in SCRIPT_RANGES[script])
    return f"[{body}]"


def script_count_sql(script: str, text_expr: str) -> str:
    """DuckDB count expression for one script, generated from the same
    table (RE2 evaluates the identical pattern independently)."""
    return f"len(regexp_extract_all({text_expr}, '{script_pattern(script)}'))"


def script_profile(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document script profile: one ``n_<script>`` count per table
    entry, ``n_chars`` (total code points), ``main_script`` (argmax with
    deterministic alphabetical tie-break, 'und' when no script letter
    occurs), ``main_count`` and ``main_ppm`` (main-script letter mass per
    million code points, trunc division — 0 for empty docs).

    The pattern literals reach Spark via ``F.lit`` (never a SQL string
    literal, which would unescape the backslashes — the cc_luhn lesson).
    """
    t = F.coalesce(F.col(text_col), F.lit(""))  # NULL text ≡ empty doc
    scripts = sorted(SCRIPT_RANGES)
    counts = {
        s: F.regexp_count(t, F.lit(script_pattern(s))).cast("long") for s in scripts
    }
    scored = df.select(
        F.col(id_col),
        F.length(t).cast("long").alias("n_chars"),
        *[counts[s].alias(f"n_{s}") for s in scripts],
    )
    best = F.greatest(*[F.col(f"n_{s}") for s in scripts])
    pred = F.lit("und")
    for s in reversed(scripts):
        pred = F.when(F.col(f"n_{s}") == best, F.lit(s)).otherwise(pred)
    return scored.select(
        "*",
        F.when(best > 0, pred).otherwise(F.lit("und")).alias("main_script"),
        best.alias("main_count"),
        # exact BIGINT division (Spark `div` ≡ DuckDB `//` on non-negatives)
        # — never a double divide, whose nearest-rounding can cross an
        # integer boundary and desynchronize a trunc against the oracle
        F.when(
            F.col("n_chars") > 0,
            F.expr(f"(greatest({', '.join(f'n_{s}' for s in scripts)}) * {PPM}) div n_chars"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("main_ppm"),
    )
