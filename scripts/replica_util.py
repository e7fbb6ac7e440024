"""Key-shifted table replicas for the 10x scale checks.

A replica stacks copies of a table with per-copy key shifts, so
foreign keys resolve and probe moduli keep their meaning. Callers:
``scripts/scale10x_bench.py build`` (the ~sf1 replica of sf0.1) and
perfbench's seeded replicas (perfbench/gen.py).
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq


def shifted_concat(
    table: pa.Table,
    shifts: dict[str, int],
    copies: int,
    text_prefix: str | None = None,
) -> pa.Table:
    """``copies`` stacked copies of ``table``; copy ``c`` adds
    ``c * step`` to each column in ``shifts``. ``text_prefix`` names a
    string column that gets a distinct per-copy prefix token, making
    copies NEAR-duplicates instead of exact ones (exact text copies
    pair quadratically in the near-dup queries — the r4 measured
    artifact)."""
    parts = []
    for c in range(copies):
        x = table
        for col, step in shifts.items():
            x = x.set_column(
                x.schema.get_field_index(col), col,
                pc.add(table[col], c * step),
            )
        if text_prefix is not None:
            x = x.set_column(
                x.schema.get_field_index(text_prefix),
                text_prefix,
                pc.binary_join_element_wise(
                    pa.array([f"c{c}"] * len(table)), table[text_prefix], " "
                ),
            )
        parts.append(x)
    return pa.concat_tables(parts)


def replicate_table(
    src: str,
    dst: str,
    name: str,
    shifts: dict[str, int],
    copies: int,
    text_prefix: str | None = None,
) -> None:
    t = pq.read_table(f"{src}/{name}.parquet")
    pq.write_table(
        shifted_concat(t, shifts, copies, text_prefix),
        f"{dst}/{name}.parquet",
    )
    print(f"{name}: {len(t)} -> {len(t) * copies}")
