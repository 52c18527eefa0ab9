"""Driver-side checks of one pass's output, and the input fingerprint.

Every check here is independent of the engine's own code paths: matches
are re-scored with the reference encoder ``functions.bloom.encode_value``
and plain Python set arithmetic, clusters are recomputed with networkx,
and the linkage metrics are recomputed from the collected rows.
"""

from __future__ import annotations

import hashlib

import networkx as nx


def parties(record_rows) -> dict[str, dict[str, tuple[str, ...]]]:
    """(id, party, *attribute values) rows -> {party: {id: values}}, with
    the documented normalization applied (trim spaces, uppercase)."""
    out: dict[str, dict[str, tuple[str, ...]]] = {"A": {}, "B": {}}
    for rid, party, *values in record_rows:
        out[party][rid] = tuple(v.strip(" ").upper() for v in values)
    return out


def fingerprint(record_rows, reference_rows) -> dict:
    """Record counts and a content hash of the generated input."""
    h = hashlib.sha256()
    for line in sorted(
        "\t".join(str(v) for v in r) for r in record_rows
    ):
        h.update(line.encode("utf-8") + b"\n")
    h.update(b"--reference--\n")
    for line in sorted(
        "\t".join("" if v is None else str(v) for v in r) for r in reference_rows
    ):
        h.update(line.encode("utf-8") + b"\n")
    party_col = [r[1] for r in record_rows]
    return {
        "records_a": party_col.count("A"),
        "records_b": party_col.count("B"),
        "reference_rows": len(reference_rows),
        "sha256": h.hexdigest(),
    }


class Scorer:
    """Dice scoring on the driver with the reference CLK encoder."""

    def __init__(self, cfg, encode_value):
        self.cfg = cfg
        self._encode = encode_value
        self._memo: dict[str, frozenset[int]] = {}

    def bits(self, value: str) -> frozenset[int]:
        hit = self._memo.get(value)
        if hit is None:
            hit = frozenset(
                64 * w + b
                for w, word in enumerate(self._encode(value, self.cfg))
                for b in range(64)
                if (word >> b) & 1
            )
            self._memo[value] = hit
        return hit

    def fields_passing(self, a: tuple[str, ...], b: tuple[str, ...]) -> int:
        """Attributes whose Dice similarity reaches the threshold; the
        test is ``2|x∧y| >= t(|x|+|y|)`` with both-empty filters failing."""
        t = self.cfg.matching_threshold
        n = 0
        for va, vb in zip(a, b):
            x, y = self.bits(va), self.bits(vb)
            denom = len(x) + len(y)
            if denom > 0 and 2.0 * len(x & y) >= t * denom:
                n += 1
        return n


def check_pass(out, parties, scorer) -> list[str]:
    """All output checks of one pass; returns the failures (empty = pass).

    ``out`` is a PassOutput whose ``matches`` hold (record1, record2,
    matched_fields), ``unmatched_sample`` a seeded sample of candidate
    pairs the pass did not match, and ``components`` (node, component).
    """
    errors: list[str] = []
    a, b = parties["A"], parties["B"]
    need = scorer.cfg.matches_to_accept

    for r1, r2, fields in out.matches:
        if r1 not in a or r2 not in b:
            errors.append(f"match ({r1}, {r2}) is not an (A id, B id) pair")
            continue
        got = scorer.fields_passing(a[r1], b[r2])
        if got < need or got != fields:
            errors.append(
                f"match ({r1}, {r2}): engine says {fields} fields pass, "
                f"driver re-score says {got} (need {need})"
            )
    for r1, r2 in out.unmatched_sample:
        if r1 not in a or r2 not in b:
            errors.append(f"candidate ({r1}, {r2}) is not an (A id, B id) pair")
            continue
        if scorer.fields_passing(a[r1], b[r2]) >= need:
            errors.append(f"candidate ({r1}, {r2}) passes Dice but was not matched")

    g = nx.Graph()
    g.add_edges_from((f"A:{r1}", f"B:{r2}") for r1, r2, _ in out.matches)
    want = {frozenset(c) for c in nx.connected_components(g)}
    by_label: dict[str, set[str]] = {}
    for node, comp in out.components:
        by_label.setdefault(comp, set()).add(node)
    got = {frozenset(c) for c in by_label.values()}
    if got != want:
        errors.append(
            f"clusters differ from networkx: {len(got)} engine components vs "
            f"{len(want)}, {len(got ^ want)} differing"
        )

    m = out.metrics
    tp = sum(1 for r1, r2, _ in out.matches if r1 == r2)
    n_a, n_b = len(a), len(b)
    expected_matches = len(a.keys() & b.keys())
    want_metrics = {
        "n_matches": len(out.matches),
        "true_positives": tp,
        "expected_matches": expected_matches,
        "n_alice": n_a,
        "n_bob": n_b,
    }
    for k, v in want_metrics.items():
        if getattr(m, k) != v:
            errors.append(f"metrics.{k} = {getattr(m, k)}, driver count {v}")
    rr = 1.0 - m.n_candidates / (n_a * n_b)
    if abs(m.reduction_ratio - rr) > 1e-12:
        errors.append(f"reduction_ratio {m.reduction_ratio} != {rr}")
    if abs(m.pairs_completeness - tp / expected_matches) > 1e-12:
        errors.append(f"pairs_completeness {m.pairs_completeness} != {tp / expected_matches}")
    return errors
