"""Live-PostgreSQL stemmer parity: diff every stemmer against the real
`ts_lexize('<lang>_stem', word)` on a throwaway PG instance.

The strongest oracle the stemmers can have — the actual snowball
implementations PG ships, not hand-traced goldens. Skips cleanly on
hosts without PostgreSQL binaries. See
scripts/validate_stemmers_pg.py for the full-size run and the three
real divergences this harness caught in round 4.
"""

import os
import subprocess
import sys

import pytest

from conftest import requires_reference

PG_BIN = "/usr/lib/postgresql/15/bin"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.skipif(not os.path.exists(f"{PG_BIN}/initdb"),
                    reason="no PostgreSQL binaries on this host")
def test_stemmers_match_live_pg():
    # modest fuzz budget for CI (the script defaults to 9000); the
    # validator exits non-zero on ANY mismatch and prints the diffs
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts",
                                      "validate_stemmers_pg.py"),
         "800", "1234"],
        capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stdout + out.stderr
    assert "TOTAL mismatches: 0" in out.stdout


@pytest.mark.skipif(not os.path.exists(f"{PG_BIN}/initdb"),
                    reason="no PostgreSQL binaries on this host")
def test_analyzer_matches_live_pg_to_tsvector():
    """Full-analyzer parity: engine analyze_document vs PG to_tsvector
    over engine-canonicalized text (the reference's own composition,
    to_tspvector.sql:19-27) — tokenizer, stopwords, stemmer and
    position alignment jointly, across all twelve configs. The single
    pinned divergence (PG drops protocol tokens positionlessly,
    breaking the reference's own alignment invariant after URLs) is
    asserted as diverging by the validator itself."""
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts",
                                      "validate_analyzer_pg.py"),
         "80", "4321"],
        capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stdout + out.stderr
    assert "TOTAL diverging texts: 0" in out.stdout
    assert "protocol-case divergences (expected 12): 12" in out.stdout


@requires_reference
@pytest.mark.skipif(not os.path.exists(f"{PG_BIN}/initdb"),
                    reason="no PostgreSQL binaries on this host")
def test_semantic_headline_matches_live_reference():
    """End-to-end parity against the ACTUAL reference extension loaded
    into a throwaway PostgreSQL: TSP_QUERY_MATCHES rows and
    TS_SEMANTIC_HEADLINE strings over randomized docs × the query set.
    The strongest oracle the flagship API can have; round 4 used it to
    derive PG's real hlCover/resize rules (87 → 0 divergences)."""
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts",
                                      "validate_reference_pg.py"),
         "10", "99"],
        capture_output=True, text=True, timeout=560)
    assert out.returncode == 0, out.stdout[-3000:] + out.stderr[-500:]
    assert "divergences: 0" in out.stdout


@requires_reference
@pytest.mark.skipif(not os.path.exists(f"{PG_BIN}/initdb"),
                    reason="no PostgreSQL binaries on this host")
def test_semantic_headline_matches_live_reference_german():
    """Same end-to-end oracle on the German config (umlauts, ß, the
    em-dash parser-word case the golden pins); the validator classifies
    the known C-locale oracle artifact apart from real divergences."""
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts",
                                      "validate_reference_pg.py"),
         "8", "17", "german"],
        capture_output=True, text=True, timeout=560)
    assert out.returncode == 0, out.stdout[-3000:] + out.stderr[-500:]
    assert "divergences: 0" in out.stdout
