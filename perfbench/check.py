"""The benchmark's inputs, and its output check without a per-run oracle.

The inputs are byte-for-byte copies of the tables of the engine's sf=0.1
test data (see ``TESTDATA.md``) that the workloads read, kept in
``data/sf0.1`` so a checkout holds everything a run reads.
``digests.json`` records each file's SHA-256 beside the digests, and
:func:`load_expected` refuses tables that differ.

``record_digests.py`` proves each benchmark query's Spark output equal to
its DuckDB oracle (``tests/oracle_check.canonicalize`` on both sides) on
those tables, then stores the output's :func:`digest`. A run recomputes
the digest in Spark, where the rows already are, and compares.
"""

from __future__ import annotations

import hashlib
import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data", "sf0.1")
DIGESTS = os.path.join(HERE, "digests.json")


def digest(df: DataFrame) -> list:
    """``[rows, sum of row hashes]``: order-insensitive, over the columns
    sorted by name, with the value normalisation of ``canonicalize``
    (numbers compared as doubles, dates and times as text; nested values
    as JSON)."""
    fields = df.schema.fields
    df = df.toDF(*[f"c{i}" for i in range(len(fields))])  # names may repeat
    cols = []
    for i in sorted(range(len(fields)), key=lambda i: fields[i].name):
        t, c = fields[i].dataType, F.col(f"c{i}")
        if isinstance(t, T.NumericType):
            c = c.cast("double")
        elif isinstance(t, (T.DateType, T.TimestampType, T.TimestampNTZType)):
            c = c.cast("string")
        elif isinstance(t, (T.ArrayType, T.MapType, T.StructType)):
            c = F.to_json(c)
        cols.append(c)
    h = F.xxhash64(*cols).cast("decimal(38,0)")
    row = df.select(h.alias("h")).agg(F.count(F.lit(1)), F.sum("h")).first()
    return [int(row[0]), str(row[1])]


def data_manifest(data: str = DATA) -> dict[str, str]:
    """SHA-256 of every table file under ``data``, by file name."""
    out = {}
    for name in sorted(os.listdir(data)):
        with open(os.path.join(data, name), "rb") as f:
            out[name] = hashlib.sha256(f.read()).hexdigest()
    return out


def load_expected(data: str = DATA) -> dict[str, list]:
    """Recorded digests by query; refuses tables other than those the
    digests were recorded on."""
    with open(DIGESTS) as f:
        rec = json.load(f)
    found = data_manifest(data)
    if found != rec["data"]:
        raise ValueError(f"the tables under {data} are not those {DIGESTS} was recorded on")
    return {name: q["digest"] for name, q in rec["queries"].items()}
