"""Output checks. Each returns a list of mismatch descriptions; every
entry counts as one failed operation."""

from __future__ import annotations

from collections import Counter


def oracle_rows(con, sql: str) -> tuple[list[str], list, list[tuple]]:
    """(columns, types, rows) of a DuckDB oracle query."""
    rel = con.sql(sql)
    return rel.columns, rel.types, rel.fetchall()


def check_query(name: str, scols, srows, sdf, oracle) -> list[str]:
    """A collected Spark result against its DuckDB oracle: the column set,
    row count, type families and order-insensitive values must all match."""
    from tools.verify_oracle import normalize, typed_mismatches

    dcols, dtypes, drows = oracle
    if sorted(c.lower() for c in scols) != sorted(c.lower() for c in dcols):
        return [f"{name}: columns {sorted(scols)} != oracle {sorted(dcols)}"]
    if len(srows) != len(drows):
        return [f"{name}: {len(srows)} rows != oracle {len(drows)}"]
    if sdf is not None:
        bad = typed_mismatches(sdf, dcols, dtypes)
        if bad:
            return [f"{name}: types {bad}"]
    ns = normalize([tuple(r) for r in srows], [c.lower() for c in scols])
    nd = normalize(drows, [c.lower() for c in dcols])
    if ns != nd:
        first = next(i for i, (a, b) in enumerate(zip(ns, nd, strict=True)) if a != b)
        return [f"{name}: row {first} {ns[first]!r} != oracle {nd[first]!r}"]
    return []


def check_branches(delivered: dict[str, list[tuple]], expected: dict[str, set[int]]) -> list[str]:
    """Streaming deliveries vs the batch pipeline's branch assignment.

    `delivered[branch]` holds one (update_id, chunk_idx) per delivered row;
    `expected[branch]` is the set of update_ids the batch form of
    build_message_pipeline routes to that branch. Every expected update
    must arrive exactly once per chunk, and nothing else may arrive.
    """
    bad = []
    for branch, want in expected.items():
        rows = Counter(delivered.get(branch, []))
        for key, n in rows.items():
            if n > 1:
                bad.append(f"{branch}: update {key[0]} chunk {key[1]} delivered {n} times")
        got = {uid for uid, _ in rows}
        bad += [f"{branch}: update {u} never delivered" for u in sorted(want - got)]
        bad += [f"{branch}: update {u} not routed here" for u in sorted(got - want)]
    return bad


def check_neardup(
    kept: set[int], epoch_of: dict[int, int], pairs: list[tuple[int, int]]
) -> list[str]:
    """Streaming near-dup survivors vs the batch LSH pair set.

    No pair may have both docs kept, and every dropped doc needs a pair
    partner that arrived in the same or an earlier epoch.
    """
    bad = [f"pair ({a}, {b}) both kept" for a, b in pairs if a in kept and b in kept]
    partners: dict[int, set[int]] = {}
    for a, b in pairs:
        partners.setdefault(a, set()).add(b)
        partners.setdefault(b, set()).add(a)
    for doc in sorted(set(epoch_of) - kept):
        if not any(epoch_of.get(p, 1 << 62) <= epoch_of[doc] for p in partners.get(doc, ())):
            bad.append(f"doc {doc} dropped without an earlier-or-same-epoch partner")
    bad += [f"doc {d} kept but never offered" for d in sorted(kept - set(epoch_of))]
    return bad
