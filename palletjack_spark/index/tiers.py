"""The row-group tier pipeline: the one place that knows the tier order.

A predicate prunes a row group when the first of five tiers proves it
holds no match; every unknown verdict keeps it.  In order:

1. **stats** — the row group's min/max/null counts
   (``predicate.stats_verdict``);
2. **partition** — a safe equality on a hive ``key=value`` path segment
   whose key is not also a data column;
3. **dictionary** — over every conjunct the dictionary can decide
   (=, IN, !=, NOT IN);
4. **bloom** — over every equality conjunct;
5. **page** — the page index's per-page envelopes, which also narrow a
   kept row group to its surviving row ranges.

:func:`prune_verdicts` runs the pipeline over index rows on the driver:
``MetadataIndex.read``'s driver-local plan, ``smart_read``'s estimate,
the ``format("palletjack")`` data source and ``prune_explain`` all call
it, so explain matches the plan by construction.  :func:`value_verdict`
is its value-tier half for one row group; ``value_prune_plan`` runs it
executor-side over flat plan rows.
"""

from __future__ import annotations

import re
from typing import Sequence

from palletjack_spark.index.bloomprune import BloomProber
from palletjack_spark.index.dictprune import DictionaryProber
from palletjack_spark.index.pageprune import PageProber, _row_lookup
from palletjack_spark.index.predicate import (
    EQ_OPS,
    EXCLUDE_OPS,
    LIST_OPS,
    canonical,
    normalize,
    stats_verdict,
)
from palletjack_spark.sources.arrow_scan import partition_values

#: tier order; a pruned row group is attributed to the FIRST tier that
#: proves it matchless
TIERS = ("stats", "partition", "dictionary", "bloom", "page")
_VALUE_TIERS = TIERS[2:]

#: partition values hive never escapes: the path segment then decodes to
#: the literal itself, so comparing the two is exact
_SAFE_VALUE = re.compile(r"[A-Za-z0-9._\-]+")


def partition_gates(
    predicate: Sequence[tuple],
    part_keys: Sequence[str],
    data_columns: Sequence[str] = (),
) -> list[tuple]:
    """The conjuncts of a canonical predicate the partition tier decides:
    safe equalities on a partition key.  A key that is also a data column is skipped: the
    attached column is then the data, which the path may contradict."""
    keys = set(part_keys) - set(data_columns)
    return [
        c
        for c in predicate
        if c[0] in keys
        and c[1] == "="
        and len(c) > 2
        and isinstance(c[2], str)
        and _SAFE_VALUE.fullmatch(c[2])
    ]


def partition_miss(file: str, gates: Sequence[tuple]) -> tuple | None:
    """The first gate ``file``'s path values contradict, or None."""
    if not gates:
        return None
    vals = partition_values(file)
    return next((c for c in gates if vals.get(c[0]) != c[2]), None)


def value_conjuncts(predicate: Sequence[tuple]) -> list[tuple]:
    """``(conjunct, column, values, mode)`` per conjunct of a canonical
    predicate the dictionary can decide.  Mode ``'eq'`` (=, IN) prunes
    when every value is provably absent, and the bloom tier decides it
    too; mode ``'ex'`` (!=, NOT IN) prunes when the dictionary lies
    wholly inside the excluded values."""
    out = []
    for c in predicate:
        col, op, *vals = c
        if op not in EQ_OPS + EXCLUDE_OPS or not vals:
            continue
        values = list(vals[0]) if op in LIST_OPS else [vals[0]]
        if values:
            out.append((c, col, values, "eq" if op in EQ_OPS else "ex"))
    return out


def value_predicate(predicate: Sequence[tuple]) -> tuple:
    """The value tiers' prepared form of a canonical predicate, built
    once per pass: ``(conjunct list, value_conjuncts)``."""
    pred = list(predicate)
    return pred, value_conjuncts(pred)


def new_probers() -> tuple:
    """One pass's (dictionary, bloom, page) probers, in tier order, sharing
    one footer snapshot: each file is stat'ed and read once per pass."""
    probers = DictionaryProber(), BloomProber(), PageProber()
    probers[1].footers = probers[2].footers = probers[0].footers
    return probers


def _tier_prunes(tier, prober, file, rg, num_rows, vpred, look) -> tuple:
    """``(True, deciding conjunct)`` when ``tier`` proves the row group
    matchless, else ``(False, None)``.  The page tier intersects its
    masks across conjuncts, so it names none."""
    pred, conj = vpred
    if tier == "page":
        return not prober.rg_can_match(file, rg, num_rows, pred, look), None
    for c, col, values, mode in conj:
        if tier == "bloom" and mode != "eq":
            continue  # a bloom never proves a column holds ONLY some values
        got = look(col)
        if got is None:
            continue
        cix, meta = got
        if mode == "eq":
            pruned = all(
                prober.can_match(file, rg, cix, meta, v) is False
                for v in values
            )
        else:
            pruned = prober.all_excluded(file, rg, cix, meta, values) is True
        if pruned:
            return True, c
    return False, None


def value_verdict(probers, file, rg, num_rows, vpred, look, ranges):
    """The value tiers for one row group: dictionary over every
    dictionary conjunct, then bloom over every equality conjunct, then
    the page index.  ``look(column)`` gives ``(chunk ordinal, chunk
    meta)`` or None (``pageprune._row_lookup`` over an index row, or
    ``value_prune_plan``'s flat plan row).

    Returns ``(tier | None, deciding conjunct, row_ranges)``.  With
    ``ranges``, a kept row group the page index narrows gets its
    surviving ``[[start, end], ...]`` row ranges; else they are None."""
    for tier, prober in zip(_VALUE_TIERS, probers):
        pruned, conj = _tier_prunes(
            tier, prober, file, rg, num_rows, vpred, look
        )
        if pruned:
            return tier, conj, None
    if ranges and num_rows:
        rngs = probers[2].surviving_ranges(file, rg, num_rows, vpred[0], look)
        if rngs and sum(e - s for s, e in rngs) < num_rows:
            return None, None, [[int(s), int(e)] for s, e in rngs]
    return None, None, None


def prune_verdicts(
    rows: Sequence[dict],
    predicate: Sequence[tuple],
    part_keys: Sequence[str] = (),
    data_columns: Sequence[str] = (),
    ranges: bool = True,
    values: bool = True,
) -> list[tuple]:
    """``(row, tier | None, deciding conjunct, row_ranges)`` per index
    row, in input order: the stats tier, the partition tier over
    ``part_keys`` minus ``data_columns``, then (with ``values``)
    :func:`value_verdict`.  The predicate is normalized and validated
    once.  The stats tier names the conjunct it disproved as the caller
    wrote it; the other tiers name its canonical form."""
    conjuncts = normalize(predicate)
    pred = [c.canon for c in conjuncts]
    gates = partition_gates(pred, part_keys, data_columns)
    vpred = value_predicate(pred)
    probers = new_probers()
    out = []
    for r in rows:
        disproved = stats_verdict(r, conjuncts)
        if disproved is not None:
            out.append((r, "stats", disproved.source, None))
            continue
        miss = partition_miss(r["file"], gates)
        if miss is not None:
            out.append((r, "partition", miss, None))
        elif values:
            out.append(
                (r,) + value_verdict(
                    probers, r["file"], r["row_group"], r.get("num_rows"),
                    vpred, _row_lookup(r), ranges,
                )
            )
        else:
            out.append((r, None, None, None))
    return out


def tier_filter(tier: str, rows: list[dict], predicate, prober) -> list[dict]:
    """``rows`` minus those ``tier`` alone proves matchless, probed with
    ``prober`` (the tier's ``DictionaryProber``, ``BloomProber`` or
    ``PageProber``).  ``predicate`` may use either op spelling.  One tier
    in isolation, without the stats and partition tiers or the tier
    order :func:`prune_verdicts` applies: the unit the per-tier tests
    pin."""
    vpred = value_predicate(canonical(predicate))
    return [
        r
        for r in rows
        if not _tier_prunes(
            tier, prober, r["file"], r["row_group"], r.get("num_rows"),
            vpred, _row_lookup(r),
        )[0]
    ]
