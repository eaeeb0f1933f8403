#!/usr/bin/env python
"""Generate the engine's full-fidelity Metrica schemas from the
reference DDL (a data-model translation: ddl/hits.sql, ddl/visits.sql
-> pyspark StructTypes).  Run once; output is committed as
yc_data_transfer_clickhouse_from_yandex_metrica_spark/schemas_full.py
so the repo stays standalone (the reference is NOT read at runtime).

Usage:
    python tools/gen_full_schemas.py <reference checkout>/ddl

Type mapping per SURVEY.md section 1.2 (unsigned widened one step,
UInt64 ids ride as LongType, FixedString -> StringType); ClickHouse
Nested dotted parallel arrays -> array-of-struct groups (SURVEY 1.2
decision), with the dotted projection recoverable via
queries.metrica.dotted_nested_view.
"""

from __future__ import annotations

import re
import sys
from collections import OrderedDict
from pathlib import Path

OUT = Path(__file__).resolve().parent.parent / (
    "yc_data_transfer_clickhouse_from_yandex_metrica_spark/schemas_full.py"
)

SCALAR = {
    "UInt8": "T.ShortType()",
    "UInt16": "T.IntegerType()",
    "UInt32": "T.LongType()",
    "UInt64": "T.LongType()",
    "Int8": "T.ByteType()",
    "Int16": "T.ShortType()",
    "Int32": "T.IntegerType()",
    "Int64": "T.LongType()",
    "Float32": "T.FloatType()",
    "Float64": "T.DoubleType()",
    "String": "T.StringType()",
    "Date": "T.DateType()",
    "DateTime": "T.TimestampType()",
}


def spark_type(ch: str) -> str:
    m = re.fullmatch(r"Nullable\((.+)\)", ch)
    if m:
        return spark_type(m.group(1))
    m = re.fullmatch(r"Array\((.+)\)", ch)
    if m:
        return f"T.ArrayType({spark_type(m.group(1))})"
    m = re.fullmatch(r"FixedString\(\d+\)", ch)
    if m:
        return "T.StringType()"
    if ch in SCALAR:
        return SCALAR[ch]
    raise ValueError(f"unmapped ClickHouse type: {ch}")


def parse(path: Path) -> list[tuple[str, str, bool]]:
    """[(name, ch_type, nullable)] in DDL order."""
    text = path.read_text()
    body = text.split("(", 1)[1].rsplit("ENGINE", 1)[0]
    cols = []
    for name, ch in re.findall(r"`([^`]+)`\s*([A-Za-z0-9()]+)", body):
        cols.append((name, ch, ch.startswith("Nullable(")))
    return cols


def emit(table: str, cols: list[tuple[str, str, bool]]) -> tuple[str, str]:
    """Return (grouped_schema_code, dotted_names_literal)."""
    groups: OrderedDict[str, list[tuple[str, str, bool]]] = OrderedDict()
    flat: list[tuple[str, str, bool]] = []
    for name, ch, nullable in cols:
        if "." in name:
            g, sub = name.split(".", 1)
            groups.setdefault(g, []).append((sub, ch, nullable))
        else:
            flat.append((name, ch, nullable))
    lines = [f"{table} = T.StructType(["]
    emitted_groups = set()
    for name, ch, nullable in cols:
        if "." in name:
            g = name.split(".", 1)[0]
            if g in emitted_groups:
                continue
            emitted_groups.add(g)
            lines.append(f"    T.StructField({g!r}, T.ArrayType(T.StructType([")
            for sub, sch, _ in groups[g]:
                # group members are Array(T); element type is T
                inner = re.fullmatch(r"Array\((.+)\)", sch).group(1)
                lines.append(
                    f"        T.StructField({sub!r}, {spark_type(inner)}, True),"
                )
            lines.append("    ])), True),")
        else:
            lines.append(
                f"    T.StructField({name!r}, {spark_type(ch)}, {nullable}),"
            )
    lines.append("])")
    dotted = [n for n, _, _ in cols]
    return "\n".join(lines), repr(dotted)


def main(ref: Path) -> None:
    hits = parse(ref / "hits.sql")
    visits = parse(ref / "visits.sql")
    hits_code, hits_dotted = emit("HITS_FULL_SCHEMA", hits)
    visits_code, visits_dotted = emit("VISITS_FULL_SCHEMA", visits)
    OUT.write_text(
        '"""FULL-fidelity Metrica schemas -- every column of the reference\n'
        "DDL (/root/reference/ddl/hits.sql:5-110 -> %d columns,\n"
        "ddl/visits.sql:5-227 -> %d columns), generated by\n"
        "tools/gen_full_schemas.py (data-model translation; regenerate only\n"
        "if the reference DDL changes).\n\n"
        "ClickHouse Nested dotted groups are array-of-struct here (SURVEY.md\n"
        "section 1.2); DOTTED_* list the original dotted column names, and\n"
        "queries.metrica.dotted_nested_view restores that projection.\n"
        '"""\n\n'
        "from __future__ import annotations\n\n"
        "from pyspark.sql import types as T\n\n"
        "%s\n\n%s\n\n"
        "DOTTED_HITS_COLUMNS = %s\n\n"
        "DOTTED_VISITS_COLUMNS = %s\n"
        % (len(hits), len(visits), hits_code, visits_code, hits_dotted, visits_dotted)
    )
    print(f"hits columns: {len(hits)}, visits columns: {len(visits)} -> {OUT}")


if __name__ == "__main__":
    main(Path(sys.argv[1]))
