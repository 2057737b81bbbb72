#!/usr/bin/env python3
"""Cross-engine parity check for the `poly_hash` gram ids.

graft.functions.PolyHash (Scala, code-point loop) and
graft.pipeline.Dedup.polyShidCte (DuckDB SQL mirror) must stay in
bit-exact lockstep — every MinHash/SimHash oracle depends on it. The Scala side is pinned to the definition by PolyHashSpec; this
script pins the DuckDB side, with non-ASCII inputs the parquet test
corpora never exercise (combining marks, Devanagari clusters,
astral-plane emoji, ZWJ sequences).

Run whenever PolyHash.compute or polyShidCte changes:
    python3 tools/poly_parity.py        # exits 0 on parity, 1 on drift

Also pins the REVERSED-gram hash (`h2 = poly_hash(reverse(gram))`,
Dedup.bloomFpCalibration + its oracle's `reverse(w.gram)`): parity is
asserted for ASCII inputs only, because Spark's `reverse` reverses
CODE POINTS while DuckDB's reverses grapheme clusters — the operator's
documented ASCII-only scope. Non-ASCII cases print the divergence
informationally without failing.
"""
import sys
import duckdb

P = 1000003
MAX = 64

CASES = [
    "", "a", "the quick brown", "x" * 200,
    "café",                      # precomposed e-acute
    "café",                     # combining acute (2 code points)
    "क्षत्रिय",  # Devanagari cluster
    "\U0001F600x",                    # astral-plane emoji then ascii
    "a‍\U0001F600",              # ZWJ sequence
    "你好世界",       # CJK
    "ünïcödé ğram ✓",
]

SQL = """WITH RECURSIVE pw AS (
  SELECT 1 AS i, CAST(1 AS BIGINT) AS v
  UNION ALL
  SELECT i + 1, (v * 31) % 1000003 FROM pw WHERE i < 64)
SELECT CAST(COALESCE(SUM(ord(substr(?, p.i, 1)) * p.v), 0) % 1000003 AS BIGINT)
FROM pw p WHERE p.i <= LEAST(len(?), 64)"""


def definition(s):
    """The family definition: sum(cp_i * 31^i) mod P, first 64 code
    points. Python strings iterate code points, like Scala codePointAt."""
    h, m = 0, 1
    for n, ch in enumerate(s):
        if n >= MAX:
            break
        h = (h + ord(ch) * m) % P
        m = (m * 31) % P
    return h


REV_SQL = """WITH RECURSIVE pw AS (
  SELECT 1 AS i, CAST(1 AS BIGINT) AS v
  UNION ALL
  SELECT i + 1, (v * 31) % 1000003 FROM pw WHERE i < 64)
SELECT CAST(COALESCE(SUM(ord(substr(reverse(?), p.i, 1)) * p.v), 0) % 1000003 AS BIGINT)
FROM pw p WHERE p.i <= LEAST(len(reverse(?)), 64)"""


def main():
    con = duckdb.connect()
    bad = 0
    for s in CASES:
        duck = con.execute(SQL, [s, s]).fetchone()[0]
        want = definition(s)
        status = "OK  " if duck == want else "DRIFT"
        if duck != want:
            bad += 1
        print(f"{status} duck={duck:>7} def={want:>7}  {s!r}")
    print("-- reversed-gram h2 (ASCII-only contract) --")
    for s in CASES:
        duck = con.execute(REV_SQL, [s, s]).fetchone()[0]
        # Spark's reverse() reverses code points — Python [::-1] matches.
        want = definition(s[::-1])
        is_ascii = all(ord(ch) < 128 for ch in s)
        if is_ascii:
            status = "OK  " if duck == want else "DRIFT"
            if duck != want:
                bad += 1
        else:
            status = "ok  " if duck == want else "info"  # divergence expected
        print(f"{status} duck={duck:>7} def={want:>7}  {s!r}")
    print("== parity ==" if not bad else f"== {bad} DRIFTS ==")
    return 1 if bad else 0


sys.exit(main())
