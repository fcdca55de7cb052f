"""bench.py's detail-file name: ``SPARK_GRAFT_BENCH_TAG`` picks a
suffixed ``BENCH_DETAIL_<tag>.json``; unset, the canonical name."""

from __future__ import annotations

import pytest

from bench import detail_name


def test_unset_or_empty_tag_keeps_canonical_name():
    assert detail_name(None) == "BENCH_DETAIL.json"
    assert detail_name("") == "BENCH_DETAIL.json"


def test_tag_suffixes_the_detail_file():
    assert detail_name("quiet_r15") == "BENCH_DETAIL_quiet_r15.json"
    assert detail_name("c8") == "BENCH_DETAIL_c8.json"


@pytest.mark.parametrize("tag", ["../x", "a/b", "w 3", "r15.json", "c8-w2"])
def test_tag_outside_the_alphabet_is_refused(tag):
    with pytest.raises(ValueError, match="letters, digits and _"):
        detail_name(tag)
