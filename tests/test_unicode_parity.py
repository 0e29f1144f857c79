"""Cross-engine parity on non-ASCII text: the driver fixture is pure
ASCII, so the `ascii()`/`length()`/`\\s+`-regex/md5 surface was
untested against DuckDB until the round-7 full-catalog sweep (190/190
green on a fixture planting accents, CJK, emoji, NBSP, and combining
characters). This test pins the most codepoint-sensitive queries
against their oracles on that fixture so a Spark or DuckDB upgrade
cannot silently change unicode semantics on one side only:

- doc_fingerprints — `ascii()` must yield the same codepoint in both
  engines (a UTF-8-byte reading would diverge on every planted doc);
- slugify_titles — regex character classes over non-ASCII;
- top_tokens_per_lang — `\\s+` tokenization (NBSP must NOT split);
- minhash_lsh_candidates — md5 over unicode shingles (byte encoding);
- doc_token_stats — char-length semantics (chars, not bytes).
"""

from __future__ import annotations

import pytest

from tests.sweep_membership import striped_fixture
from tools.check_oracle import oracle_verdict

_QUERIES = (
    "doc_fingerprints",
    "slugify_titles",
    "top_tokens_per_lang",
    "minhash_lsh_candidates",
    "doc_token_stats",
)


unicode_sf_dir = striped_fixture("unicode-5doc(documents.text)")


@pytest.mark.parametrize("name", _QUERIES)
def test_unicode_docs_match_oracle(spark, unicode_sf_dir, name):
    assert oracle_verdict(spark, unicode_sf_dir, name) is True
