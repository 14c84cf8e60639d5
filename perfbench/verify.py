"""Output verifiers behind ``failed``/``attempted``.

Extraction output is compared per url with the goldens on the byte-identity
columns; a url that is wrong, missing or present more than once counts as
one failure, and so does an output url the goldens do not know. Query
results are compared with their DuckDB oracle by the driver-style cell
normalization (the same rules as the repository's oracle-parity test).
"""

from __future__ import annotations

import math
from collections import Counter
from dataclasses import dataclass, field

import pyarrow as pa

#: the byte-identity columns (timing fields are excluded, FIXTURES.md section 2)
GOLDEN_COLUMNS = (
    "mime", "extracted_text", "confidence", "engine", "status", "error_code", "warnings", "spans",
)
OK_STATUSES = ("ok", "empty")


@dataclass
class ExtractionCheck:
    attempted: int = 0
    wrong: int = 0
    missing: int = 0
    duplicated: int = 0
    unexpected: int = 0
    statuses: Counter = field(default_factory=Counter)

    @property
    def failed(self) -> int:
        return self.wrong + self.missing + self.duplicated + self.unexpected


def _spans_key(spans) -> tuple:
    return tuple((s["start"], s["end"], s["kind"]) for s in spans or ())


def _row_key(row: dict) -> tuple:
    return tuple(
        _spans_key(row[c]) if c == "spans"
        else tuple(row[c] or ()) if c == "warnings"
        else row[c]
        for c in GOLDEN_COLUMNS
    )


def check_extraction(output: pa.Table, goldens: pa.Table) -> ExtractionCheck:
    """Per-url comparison of ``output`` (url + GOLDEN_COLUMNS) to ``goldens``."""
    want = {r["url"]: _row_key(r) for r in goldens.select(["url", *GOLDEN_COLUMNS]).to_pylist()}
    got_rows = output.select(["url", *GOLDEN_COLUMNS]).to_pylist()
    seen = Counter(r["url"] for r in got_rows)
    check = ExtractionCheck(attempted=len(want))
    check.statuses.update(r["status"] for r in got_rows)
    check.missing = sum(1 for u in want if u not in seen)
    check.duplicated = sum(1 for u, n in seen.items() if n > 1 and u in want)
    check.unexpected = sum(1 for u in seen if u not in want)
    check.wrong = sum(
        1 for r in got_rows
        if seen[r["url"]] == 1 and r["url"] in want and _row_key(r) != want[r["url"]]
    )
    return check


def _norm_cell(v) -> str:
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    if v is None:
        return "NULL"
    return str(v)


def normalize(rows, colnames) -> list[tuple]:
    """Order-insensitive rows, columns sorted by name, cells as text."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)


def query_matches(spark_cols, spark_rows, duck_cols, duck_rows) -> bool:
    return (
        sorted(spark_cols) == sorted(duck_cols)
        and len(spark_rows) == len(duck_rows)
        and normalize(spark_rows, spark_cols) == normalize(duck_rows, duck_cols)
    )
