"""Hostile documents cost linear time.

Four constructions that used to cost quadratic time in NER or in the HTML
block scan are built at 2k, 4k and 8k units. Each doubling of the input may
cost at most 2.5x the time.

The sizes are timed in 15 rounds. A round times each size once, as a loop of
about 20 ms with the garbage collector off (``timeit``'s default), and
gives one ratio per doubling. The test holds the median ratio to the bound.
The samples of a ratio lie a few milliseconds apart, so a slow spell on a
busy host slows both alike; the ratio of best-of-3 times taken size after
size was not stable enough to hold a 2.5x bound on a shared 4-core host."""

import statistics
import timeit

import pytest

from medical_vector_database_ocr_ner_spark import core

UNITS = (2000, 4000, 8000)
MAX_RATIO = 2.5
ROUNDS = 15
SAMPLE_S = 0.02

CONSTRUCTIONS = {
    # every word of the run was a start that rescanned the rest of the run
    "capitalised run after a suffix": (
        core.extract_entities, lambda n: "Hospital " + "Aa " * n),
    # every CARDINAL claim scanned every claim before it
    "space-separated numbers": (core.extract_entities, lambda n: "1 " * n),
    # every block start joined the whole open-tag stack into its path
    "nested div": (core.extract_main_content, lambda n: "<div>" * n),
    "div span text": (core.extract_main_content, lambda n: "<div><span>x" * n),
}


@pytest.mark.parametrize("name", CONSTRUCTIONS)
def test_each_doubling_costs_at_most_2_5x(name):
    fn, build = CONSTRUCTIONS[name]
    loops = []
    for n in UNITS:
        timer = timeit.Timer(lambda doc=build(n): fn(doc))
        loops.append((timer, max(1, round(SAMPLE_S / timer.timeit(1)))))
    ratios: list[list[float]] = [[] for _ in UNITS[1:]]
    for _ in range(ROUNDS):
        times = [timer.timeit(number) / number for timer, number in loops]
        for i, r in enumerate(ratios):
            r.append(times[i + 1] / times[i])
    for n, r in zip(UNITS, ratios):
        assert statistics.median(r) <= MAX_RATIO, (
            f"{name}: {n} -> {2 * n} units cost "
            f"{sorted(r)} times as much (median {statistics.median(r):.2f})")
