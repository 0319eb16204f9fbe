"""Correctness gate: expected outputs built from the generators only.

The expected span sequence of a README-shaped page comes from the
value the generator planted (``synth_corpus(..., with_expected=True)``)
walked by ``h2spark.golden.expected_flat_spans`` (a data walk over the
spec, no extraction), plus the media placement rule of FIXTURES.md §2.
A ``readme_err`` page expects ``golden.README_ERR_STRING`` byte for
byte. A flagship row expects the generator's own document fields.

A document fails when its row is missing or duplicated, its span
sequence or error differs from the expected one, or an output row
names a document that was never generated.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from h2spark.golden import PAGE_SPEC, README_ERR_STRING, GoldenCase, expected_flat_spans


@dataclass
class Verdict:
    attempted: int
    failed: int
    examples: list = field(default_factory=list)

    def __iadd__(self, other: "Verdict") -> "Verdict":
        self.attempted += other.attempted
        self.failed += other.failed
        self.examples.extend(other.examples[: max(0, 5 - len(self.examples))])
        return self


def page_expected(spans: list[dict], value: dict | None) -> tuple[list | None, str | None]:
    """(spans_out, error) a correct kernel returns for one PAGE_SPEC
    document: ``value`` is the generator's planted value, None for a
    ``readme_err`` page."""
    if value is None:
        return None, README_ERR_STRING
    leaves = expected_flat_spans(GoldenCase("", "", PAGE_SPEC, value))
    text_offs = [s["offset"] for s in spans if s["kind"] != "media"]
    first = min(text_offs) if text_offs else None
    media = sorted((s["offset"], s["media_ref"]) for s in spans
                   if s["kind"] == "media")
    leading = [m for m in media if first is None or m[0] < first]
    trailing = [m for m in media if not (first is None or m[0] < first)]
    seq = ([("media", "", ref) for _, ref in leading]
           + [(kind, text, "") for kind, text in leaves]
           + [("media", "", ref) for _, ref in trailing])
    return [
        {"kind": k, "text": t, "media_ref": r, "order": i}
        for i, (k, t, r) in enumerate(seq)
    ], None


def check_digests(expected: dict[str, int], doc_ids: list, digests: list) -> Verdict:
    """Compare per-document output digests with the expected ones."""
    seen: dict[str, int] = {}
    bad: set[str] = set()
    examples = []
    for d, h in zip(doc_ids, digests):
        if d in seen:
            bad.add(d)
            examples.append((d, "duplicate row"))
            continue
        seen[d] = h
        exp = expected.get(d)
        if exp is None:
            bad.add(d)
            examples.append((d, "unexpected document"))
        elif exp != h:
            bad.add(d)
            examples.append((d, "output differs from expected"))
    missing = [d for d in expected if d not in seen]
    examples.extend((d, "missing row") for d in missing[:5])
    failed = len(bad) + len(missing)
    return Verdict(max(len(expected), 1), failed, examples[:5])


def flagship_expected_rows(docs: list[dict]) -> list[tuple]:
    """(doc_id, kind, text, media_ref, ord) rows of the flagship query,
    in its ORDER BY doc_id, ord order, from the generated documents."""
    rows = []
    for d in sorted(docs, key=lambda d: d["doc_id"]):
        i = d["doc_id"]
        rows.append((i, "lang_out:String", d["lang"], "", 0))
        rows.append((i, "text_out:String", d["text"], "", 1))
        rows.append((i, "src_out:String", d["source"], "", 2))
        rows.append((i, "media", "", f"media://img/{i}", 3))
    return rows


def check_rows(expected: list[tuple], got: list[tuple]) -> Verdict:
    """Row-exact check of an ordered result, failures counted per
    document (each document owns a run of rows)."""
    n_docs = len({r[0] for r in expected})
    if got == expected:
        return Verdict(max(n_docs, 1), 0)
    exp_by: dict = {}
    for r in expected:
        exp_by.setdefault(r[0], []).append(r)
    got_by: dict = {}
    for r in got:
        got_by.setdefault(r[0], []).append(r)
    bad = {d for d in exp_by if got_by.get(d) != exp_by[d]}
    bad |= {d for d in got_by if d not in exp_by}
    if not bad:
        # every document's rows are right, so the global order is wrong:
        # charge every document, the order is part of the result
        bad = set(exp_by)
    examples = [(d, "rows differ from expected") for d in sorted(bad, key=str)[:5]]
    return Verdict(max(n_docs, 1), len(bad), examples)
