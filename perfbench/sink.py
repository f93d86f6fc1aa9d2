"""The timed sink: one aggregate that reads every output column.

`count()` lets Catalyst prune columns the count does not need, so an op
can look fast by not computing its output (bench.py's total under-measures
doc_profile and window_running_total this way). The sink instead sums
xxhash64 over ALL columns of every row. The sum is split into 32-bit
halves so it cannot overflow a long under ANSI mode, and being a sum it
does not depend on row order or partitioning: the result is a multiset
fingerprint (rows, low-half sum, high-half sum) of the op's output.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import MapType

Fingerprint = tuple[int, int, int]


def _hashable(c: Column, dtype) -> Column:
    # xxhash64 refuses maps; their sorted entry array hashes the same
    # whatever the map's insertion order
    return F.array_sort(F.map_entries(c)) if isinstance(dtype, MapType) else c


def sink_frame(df: DataFrame) -> DataFrame:
    """The one-row aggregate the sink collects."""
    # positional renames: duplicate or odd column names stay unambiguous
    named = df.toDF(*[f"c{i}" for i in range(len(df.columns))])
    cols = [_hashable(F.col(f.name), f.dataType) for f in named.schema.fields]
    h = F.xxhash64(*cols) if cols else F.lit(0).cast("long")
    return named.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF))), F.lit(0)).alias("lo"),
        F.coalesce(F.sum(F.shiftright(h, 32)), F.lit(0)).alias("hi"),
    )


def collect(agg: DataFrame) -> Fingerprint:
    """Run a sink_frame aggregate: this is where the op's work executes."""
    row = agg.collect()[0]
    return int(row["n"]), int(row["lo"]), int(row["hi"])


def fingerprint(df: DataFrame) -> Fingerprint:
    return collect(sink_frame(df))
