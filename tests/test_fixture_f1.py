"""Graft-axis similarity ratchet: token-level F1 between our extractor
output and the reference's own processed-text fixtures
(`/root/reference/tests/data/sample_inputs/*/processed/*/text.txt`).

Floors are ratchets — round N+1 may only raise them. Current measured
values (see BENCH/FIXTURE_F1.md):

- pubget (JATS): 1.000 on all three fixtures (exact token parity with
  the upstream pubget tool's output).
- ace, fullpage mode: 0.91/0.92 on the two internally-consistent
  fixtures. The other two ace fixtures CANNOT converge: their
  source/*.html and processed/*/text.txt come from different page
  renderings in the reference repo itself (3qT3nzK9bLZ7's source is a
  ScienceDirect page while its processed text is a PMC dump with NLM
  footer; G6qSwgM5koZp's source is a JS-wall page). Those two are
  reported, not asserted.
"""

import glob
import re
from collections import Counter
from pathlib import Path

import pytest

from neurostore_text_extraction_spark.functions.html_extract import extract_html

BASE = Path("/root/reference/tests/data/sample_inputs")
# the fixtures live in a checkout of the reference repo, not in this one
needs_reference_fixtures = pytest.mark.skipif(
    not BASE.is_dir(), reason=f"reference fixture directory {BASE} is absent"
)
pytestmark = needs_reference_fixtures


def _tokens(s: str) -> Counter:
    return Counter(re.findall(r"\w+", s.lower()))


def token_f1(expected: str, got: str) -> float:
    ca, cb = _tokens(expected), _tokens(got)
    inter = sum((ca & cb).values())
    if not inter:
        return 0.0
    p = inter / sum(cb.values())
    r = inter / sum(ca.values())
    return 2 * p * r / (p + r)


def _fixture(study: str, src: str) -> tuple[bytes, str]:
    files = [
        f
        for f in glob.glob(str(BASE / study / "source" / src / "*.*"))
        if f.endswith((".xml", ".html"))
    ]
    expected = (BASE / study / "processed" / src / "text.txt").read_text()
    return open(files[0], "rb").read(), expected


PUBGET_FLOOR = 0.999
ACE_FULLPAGE_FLOOR = 0.90


@pytest.mark.parametrize("study", ["3qT3nzK9bLZ7", "8EVW7TUtC9cx", "SxFGXeVveDVM"])
def test_pubget_token_f1(study):
    data, expected = _fixture(study, "pubget")
    text, _ = extract_html(data, mode="jats")
    assert token_f1(expected, text) >= PUBGET_FLOOR


@pytest.mark.parametrize("study", ["6dYthnbocsU4", "6nTazJPV7TRM"])
def test_ace_fullpage_token_f1(study):
    """ACE does no boilerplate removal — parity needs fullpage mode."""
    data, expected = _fixture(study, "ace")
    text, _ = extract_html(data, mode="fullpage")
    assert token_f1(expected, text) >= ACE_FULLPAGE_FLOOR


# Ratchet (round 5): measured 0.9198 / 0.9300 on the two consistent
# ace fixtures in default boilerplate-strip mode after same-tag
# <section> sibling expansion + ancestor-level back-matter keeps
# (acknowledgments / appendices / footnotes; round 4 floors were 0.90
# at 0.9157/0.9019). NOTE a measured F1 CEILING < 0.95 exists for
# 6nTazJPV7TRM: 941 of its 10036 expected tokens (Google Scholar /
# PubMed anchor rows, PMC site chrome, 'Find articles by' strips) do
# not appear in the committed source HTML at all — the processed
# text.txt was rendered from a PMC page while source/ace/*.html is the
# Elsevier rendering — capping attainable recall at 0.906 and F1 at
# ~0.935 even for a perfect extractor (current recall 0.8951).
# 6dYthnbocsU4's ceiling is similar in kind (801/14284 unreachable,
# mostly ACE's no-space token concatenations like 'scholarclark',
# 'cellempty'). See BENCH/FIXTURE_F1.md for the token-level evidence.
ACE_DEFAULT_FLOOR = 0.91


@pytest.mark.parametrize("study", ["6dYthnbocsU4", "6nTazJPV7TRM"])
def test_default_mode_beats_ace_noise(study):
    """Default (boilerplate-strip) mode keeps the main content tokens
    of BOTH consistent ace fixtures while emitting far less text than
    the raw dump — the 100 TB-use-case behavior."""
    data, expected = _fixture(study, "ace")
    strip_text, _ = extract_html(data, mode="html")
    full_text, _ = extract_html(data, mode="fullpage")
    assert len(strip_text) < len(full_text)
    assert token_f1(expected, strip_text) >= ACE_DEFAULT_FLOOR


def test_excluded_ace_fixtures_documented():
    """The two remaining ace fixtures are REPORTED, not asserted, with
    reasons verifiable in the reference repo itself:
    - 3qT3nzK9bLZ7: source/*.html is a ScienceDirect rendering but
      processed/ace/text.txt is a PMC dump (different page) — no
      extractor can converge on a different document.
    - G6qSwgM5koZp: the source page is a JavaScript wall (content is
      not present in the HTML payload); measured fullpage F1 ~0.35 —
      asserted only as a non-regression floor of 0.30 here so a parser
      break still surfaces."""
    data, expected = _fixture("G6qSwgM5koZp", "ace")
    text, _ = extract_html(data, mode="fullpage")
    assert token_f1(expected, text) >= 0.30
