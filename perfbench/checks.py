"""Operation ledger and output checks, kept free of Spark so the tests can
feed them corrupted outputs directly.

An operation is a pipeline run, a resume, a stream epoch or a query
execution. It fails on an exception, a timeout or a failed output check;
each failure is counted once.
"""

from __future__ import annotations

import sys
import traceback
from collections import Counter
from pathlib import Path

import pyarrow.parquet as pq

STAGES = ["rejected", "labeled", "mentions", "linked", "canonical", "triples"]  # PipelineRun's snapshots
SPAN_KEYS = ["conv_id", "turn_idx", "start_tok", "end_tok", "label"]
MIN_SPAN_PR = 0.95


class Ops:
    """Counts attempted and failed operations and keeps the first errors."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def fail(self, kind: str, detail: str, n: int = 1) -> None:
        self.failed += n
        if len(self.errors) < 20:
            self.errors.append(f"{kind}: {detail}"[:600])
        print(f"[perfbench] FAILED {kind}: {detail}", file=sys.stderr, flush=True)

    def run(self, kind: str, fn, check=None):
        """Run one operation; ``check(value)`` returns an error text or None.
        Returns the value, or None when the operation failed."""
        self.attempted += 1
        try:
            value = fn()
            problem = check(value) if check is not None else None
        except Exception as exc:  # noqa: BLE001 - the ledger is the boundary
            traceback.print_exc(file=sys.stderr)
            self.fail(kind, f"{type(exc).__name__}: {exc}")
            return None
        if problem:
            self.fail(kind, problem)
            return None
        return value


def parquet_rows(path: Path) -> int:
    """Row count of a parquet directory from the file footers alone."""
    return sum(pq.ParquetFile(f).metadata.num_rows for f in sorted(path.rglob("*.parquet")))


def read_columns(path: Path, columns: list[str]):
    return pq.ParquetDataset(str(path)).read(columns=columns).to_pandas()


def span_pr(system, gold) -> tuple[float, float]:
    """Strict multiset span precision and recall over ``SPAN_KEYS``."""
    sys_c = Counter(map(tuple, system[SPAN_KEYS].itertuples(index=False)))
    gold_c = Counter(map(tuple, gold[SPAN_KEYS].itertuples(index=False)))
    correct = sum((sys_c & gold_c).values())
    return (
        correct / max(sum(sys_c.values()), 1),
        correct / max(sum(gold_c.values()), 1),
    )


def check_spans(precision: float, recall: float) -> str | None:
    if precision < MIN_SPAN_PR or recall < MIN_SPAN_PR:
        return f"span P={precision:.4f} R={recall:.4f} below {MIN_SPAN_PR}"
    return None


def check_manifests(manifests: dict[str, dict], counted: dict[str, int]) -> str | None:
    bad = {
        s: (m.get("row_count"), counted.get(s))
        for s, m in manifests.items()
        if m.get("row_count") != counted.get(s)
    }
    return f"manifest row_count != rows read back: {bad}" if bad else None


def check_resume(skipped: list[str], ran: list[str], stages: list[str]) -> str | None:
    if sorted(skipped) != sorted(stages) or ran:
        return f"resume skipped {skipped} and re-ran {ran}"
    return None


def triple_keys(frame) -> Counter:
    """Multiset of (pred, conv_id, turn_idx): independent of the canonical
    ids a run mints, so a stream and a batch run can be compared."""
    return Counter(map(tuple, frame[["pred", "conv_id", "turn_idx"]].itertuples(index=False)))


def check_multiset(got: Counter, want: Counter) -> str | None:
    if got == want:
        return None
    missing, extra = want - got, got - want
    return (
        f"triple multiset differs: {sum(missing.values())} missing, "
        f"{sum(extra.values())} extra, e.g. {list((missing or extra).items())[:3]}"
    )


def compare_to_oracle(
    spark_rows, spark_cols, spark_dtypes, arrow_tbl
) -> str | None:
    """``tools/check_oracles.py``'s comparison: columns, type families,
    row count, then order-insensitive normalized values."""
    from tools.check_oracles import _type_family_mismatch, canon

    dcols = arrow_tbl.column_names
    if sorted(spark_cols) != sorted(dcols):
        return f"columns {sorted(spark_cols)} vs {sorted(dcols)}"
    type_bad = _type_family_mismatch(spark_dtypes, arrow_tbl.schema)
    if type_bad:
        return f"type identity: {type_bad}"
    drows = [tuple(r[c] for c in dcols) for r in arrow_tbl.to_pylist()]
    if len(spark_rows) != len(drows):
        return f"rowcount {len(spark_rows)} vs {len(drows)}"
    cs, cd = canon(spark_rows, spark_cols), canon(drows, dcols)
    if cs != cd:
        return f"value mismatch, first diffs: {[(a, b) for a, b in zip(cs, cd) if a != b][:3]}"
    return None
