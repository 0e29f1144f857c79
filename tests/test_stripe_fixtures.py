"""Every hostile layout in ``tests/sweep_membership.STRIPES`` builds over
sf0.001 without Spark: each rewritten table keeps its source schema and
row count (zero for the empties, one extra copy of every third event for
the timestamp-collision fixture), and every other table is a symlink to
the source. The batteries that use these layouts are ``slow``, so
without this check a broken stripe would only show in a full run."""

from __future__ import annotations

import os

import pytest

from tests.conftest import SF_SMOKE
from tests.sweep_membership import STRIPES, striped_dir
from tools.check_oracle import TABLES, duck_connect
from tools.hostile_depth_sweep import DEPTH_STRIPES

# layouts that add rows: label -> predicate selecting the duplicated rows
_GROWN = {"ts-collision(events)": "event_id % 3 = 0"}


def test_depth_sweep_stripes_are_committed_layouts():
    assert len(set(DEPTH_STRIPES)) == len(DEPTH_STRIPES)
    assert set(DEPTH_STRIPES) <= set(STRIPES)


@pytest.mark.parametrize("label", sorted(STRIPES))
def test_stripe_builds_with_source_schema(label, tmp_path):
    rewrites = STRIPES[label]
    assert set(rewrites) <= set(TABLES), label
    d = striped_dir(SF_SMOKE, str(tmp_path / "striped"), rewrites)
    src, out = duck_connect(SF_SMOKE), duck_connect(d)
    try:
        for t in TABLES:
            path = os.path.join(d, f"{t}.parquet")
            if t not in rewrites:
                assert os.readlink(path) == os.path.join(SF_SMOKE, f"{t}.parquet")
                continue
            assert not os.path.islink(path)
            assert out.execute(f"DESCRIBE {t}").fetchall() == src.execute(
                f"DESCRIBE {t}"
            ).fetchall(), (label, t)
            (rows,) = out.execute(f"SELECT count(*) FROM {t}").fetchone()
            if label.startswith("empty("):
                expected = 0
            else:
                (expected,) = src.execute(f"SELECT count(*) FROM {t}").fetchone()
                if label in _GROWN:
                    (extra,) = src.execute(
                        f"SELECT count(*) FROM {t} WHERE {_GROWN[label]}"
                    ).fetchone()
                    expected += extra
            assert rows == expected, (label, t, rows, expected)
    finally:
        src.close()
        out.close()
