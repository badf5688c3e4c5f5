"""The page generator is hermetic and seeded.

Run from the repository root: ``python3 -m pytest perfbench/test_pages.py``.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent))

from pages import WORKLOADS, PageSource, boilerplate_pool, repeat_share  # noqa: E402


def _bytes(workload: str, seed: int, stream: str = "timed") -> list[bytes]:
    src = PageSource(workload, seed)
    return [repr(p.row(i)).encode() for i, p in
            enumerate(src.pages(stream, 0, 30))]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_same_seed_gives_byte_identical_pages(workload):
    assert _bytes(workload, 7) == _bytes(workload, 7)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_seed_and_stream_change_the_pages(workload):
    base = _bytes(workload, 7)
    assert base != _bytes(workload, 8)
    assert set(base).isdisjoint(_bytes(workload, 7, "warmup"))


def test_a_page_does_not_depend_on_the_pages_before_it():
    src = PageSource("crawl_unseen", 3)
    assert src.pages("timed", 10, 5) == src.pages("timed", 0, 15)[10:]


def test_crawls_share_the_page_length_distribution():
    unseen = PageSource("crawl_unseen", 5).pages("timed", 0, 200)
    boiler = PageSource("crawl_boilerplate", 5).pages("timed", 0, 200)
    mean = lambda ps: sum(len(p.text) for p in ps) / len(ps)  # noqa: E731
    assert abs(mean(unseen) - mean(boiler)) < 0.1 * mean(unseen)


def test_repeat_shares_set_the_workloads_apart():
    unseen = PageSource("crawl_unseen", 5).pages("timed", 0, 200)
    boiler = PageSource("crawl_boilerplate", 5).pages("timed", 0, 200)
    assert repeat_share(unseen) < 0.02
    assert repeat_share(boiler) > 0.5


def test_pool_holds_the_real_sentences_and_the_templated_ones():
    pool = boilerplate_pool()
    assert len(pool) == 372 + 128
    assert boilerplate_pool() == pool
