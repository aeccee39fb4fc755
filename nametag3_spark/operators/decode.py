"""The shared BIO/nested span-decode automaton (SURVEY.md W5/W6/U3/U4).

The reference implements this sequential scan FIVE times —
``NameTag3Dataset.postprocess`` (nametag3_dataset.py:607-676),
``conll_to_vertical`` (nametag3_server.py:278-320), ``conll_to_xml``
(nametag3_server.py:328-420), ``conll2eval_nested.py:39-100`` and
``NestedF1Score._get_entities`` (nametag3_model.py:381-435). We implement
it ONCE as a pure function over one sentence/turn's label stacks and derive
every sink and eval from the resulting spans.

Semantics preserved exactly:

* a token's label cell is ``|``-joined stacked labels (nesting by depth);
* ``O`` alone closes everything; a stray ``O`` inside a stack truncates the
  stack there ("bad decoder output", nametag3_dataset.py:634-636);
* at depth ``j``, a label starting ``B-`` (or ``U-`` in BILOU inputs) or a
  type change closes the running entity at depth ``j`` AND all deeper ones;
* stacks shrinking closes the abandoned depths;
* end of sentence closes everything;
* emitted spans are de-duplicated on ``(start, end, type)`` and sorted by
  ``(start, -end, depth)`` — outermost-first (nametag3_dataset.py:655-657).

Each row decodes independently → embarrassingly parallel across turns; the
sequential part is only within one short sentence. This module is pure
Python: Spark reaches it inside the inference kernel's Arrow pass
(``infer._labeled_batches``) and the serving batch, never as a UDF of its
own.

``spans_to_bio`` re-renders spans to stacked BIO labels, which makes
``postprocess`` (IOB→BIO + bracketing + uniqueness guarantee) a
decode→render round-trip, idempotent by construction.
"""

from __future__ import annotations

from typing import Iterable, Sequence

_NEW_ENTITY_PREFIXES = ("B-", "U-")


def split_stack(cell: str) -> list[str]:
    """One label cell → list of stacked labels, truncated at a stray O."""
    if not cell or cell == "O":
        return []
    labels = cell.split("|")
    for j, lab in enumerate(labels):
        if lab == "O":
            return labels[:j]
    return labels


def decode_spans(stacks: Sequence[str]) -> list[tuple[str, int, int]]:
    """Decode one sentence's per-token label stacks into nested spans.

    Args:
        stacks: one ``|``-joined label string per token (``"O"`` allowed).

    Returns:
        list of ``(entity_type, start_tok, end_tok)`` with inclusive ends,
        unique, sorted by (start, -end, close-depth).
    """
    # each open entity: [type, start]; parallel list by depth
    open_types: list[str] = []
    open_starts: list[int] = []
    # dict keyed (start, end_exclusive, type) → depth at close; keying
    # dedups, insertion order is the reference's tiebreak
    closed: dict[tuple[int, int, str], int] = {}

    def close_from(depth: int, end_excl: int) -> None:
        for j in range(depth, len(open_types)):
            closed[(open_starts[j], end_excl, open_types[j])] = j
        del open_types[depth:]
        del open_starts[depth:]

    for i, cell in enumerate(stacks):
        labels = split_stack(cell)
        if not labels:
            close_from(0, i)
            continue
        for j, lab in enumerate(labels):
            # reference strips the 2-char prefix unconditionally
            # (nametag3_dataset.py:638,643; conll2eval_nested.py:88)
            typ = lab[2:]
            if j < len(open_types):
                if lab.startswith(_NEW_ENTITY_PREFIXES) or open_types[j] != typ:
                    close_from(j, i)
                    open_types.append(typ)
                    open_starts.append(i)
                else:
                    pass  # entity continues at this depth
            else:
                open_types.append(typ)
                open_starts.append(i)
        if len(labels) < len(open_types):
            close_from(len(labels), i)
        # type updates for continuing depths happened in the loop above
    close_from(0, len(stacks))

    ordered = sorted(closed.items(), key=lambda kv: (kv[0][0], -kv[0][1], kv[1]))
    return [(typ, start, end_excl - 1) for (start, end_excl, typ), _ in ordered]


def spans_to_bio(n_tokens: int, spans: Iterable[tuple[str, int, int]]) -> list[str]:
    """Render spans back to per-token stacked BIO label cells (postprocess
    output shape, nametag3_dataset.py:661-669)."""
    per_token: list[list[str]] = [[] for _ in range(n_tokens)]
    for typ, start, end in spans:
        for i in range(start, min(end, n_tokens - 1) + 1):
            per_token[i].append(("B-" if i == start else "I-") + typ)
    return ["|".join(labs) if labs else "O" for labs in per_token]


def postprocess_stacks(stacks: Sequence[str]) -> list[str]:
    """IOB→BIO with guaranteed bracketing + uniqueness (the reference's
    ``postprocess``), per sentence. Idempotent."""
    return spans_to_bio(len(stacks), decode_spans(stacks))
