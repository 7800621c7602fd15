#!/usr/bin/env python
"""Keyword-search micro-benchmark — the one performance number the
reference records (tests/timing_test_search_keywords.py:222-229:
`search_words_in_text` = 0.007933 s/call on a ~29 KB lorem-ipsum text
with 103 keyword lines, i.e. per-mail keyword scoring cost).

This measures the rebuilt engine's equivalent: the same AND-of-words /
OR-of-lines substring semantics (functions/keywords.py) evaluated as
Catalyst column expressions inside whole-stage codegen, amortized over
a column of same-sized texts. Reported as seconds per text for direct
comparison.

Run: python tools/micro_keywords.py   (prints one JSON line)
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_ROWS = 20_000
N_LINES = 103
TEXT_BYTES = 29_000  # matches the reference corpus size (~28912 B)

WORDS = (
    "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod "
    "tempor incididunt ut labore et dolore magna aliqua enim minim veniam "
    "quis nostrud exercitation ullamco laboris nisi aliquip commodo consequat"
).split()


def build_text() -> str:
    out = []
    size = 0
    i = 0
    while size < TEXT_BYTES:
        w = WORDS[i % len(WORDS)]
        out.append(w)
        size += len(w) + 1
        i += 1
    return " ".join(out)


def build_keywords() -> list[str]:
    """103 lines like the reference run: mostly misses, a few hits."""
    lines = [f"zz{i}x qq{i}y" for i in range(N_LINES - 3)]
    lines += ["lorem ipsum", "dolore magna", "nonexistentword"]
    return lines


def main() -> None:
    from spamscope_spark.config import build_session
    from spamscope_spark.functions.keywords import search_words

    import pyspark.sql.functions as F

    spark = build_session(
        app_name="micro-keywords",
        extra={"spark.ui.showConsoleProgress": "false"},
    )
    text = build_text()
    keywords = build_keywords()
    df = (
        spark.range(N_ROWS)
        .select(F.concat(F.lit(text), F.col("id").cast("string")).alias("text"))
        .cache()
    )
    df.count()  # materialize the cache; timing excludes text generation

    # warm codegen
    df.limit(100).select(search_words(F.col("text"), keywords).alias("m")).agg(
        F.sum(F.col("m").cast("long"))
    ).collect()

    t0 = time.time()
    n_match = (
        df.select(search_words(F.col("text"), keywords).alias("m"))
        .agg(F.sum(F.col("m").cast("long")).alias("n"))
        .collect()[0]["n"]
    )
    wall = time.time() - t0
    spark.stop()
    print(
        json.dumps(
            {
                "metric": "keyword_search_sec_per_text",
                "value": round(wall / N_ROWS, 9),
                "unit": "sec/text",
                "rows": N_ROWS,
                "n_keyword_lines": N_LINES,
                "text_bytes": TEXT_BYTES,
                "matches": n_match,
                "wall_sec": round(wall, 3),
                "reference_sec_per_text": 0.007933,
                "speedup_vs_reference": round(0.007933 / (wall / N_ROWS), 1),
            }
        )
    )


if __name__ == "__main__":
    main()
