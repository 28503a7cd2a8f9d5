"""Output checks, run untimed once per benchmark run.

* ``Oracle`` compares a registry query's rows with its DuckDB oracle over
  the same generated tables, with the type-strict render of
  ``tools/canon.py`` (the check ``tools/oracle_check.py`` makes).
* ``verify_mr_output`` checks a ``MapReduceJob`` output directory exactly
  against the generator's truth.
"""

from __future__ import annotations

import os

from eecs485_p4_mapreduce_spark.mapreduce.job import md5_partition
from eecs485_p4_mapreduce_spark.sources import TABLES
from tools.canon import canon, duck_type_violations, spark_type_violations


class Oracle:
    """DuckDB views over one generated tables directory."""

    def __init__(self, tables_dir: str, temp_dir: str, threads: int):
        import duckdb

        self.con = duckdb.connect(config={"temp_directory": temp_dir, "threads": threads})
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(tables_dir, t)}.parquet'"
            )

    def mismatch(self, df, sql: str) -> str | None:
        """None when ``df`` matches the oracle ``sql``, else the reason."""
        bad = spark_type_violations(df.schema)
        rel = self.con.sql(sql)
        bad += duck_type_violations(rel)
        if bad:
            return f"pandas-lossy output types {bad}"
        got, got_cols = canon(df.collect(), df.columns)
        want, want_cols = canon(rel.fetchall(), rel.columns)
        if got_cols != want_cols:
            return f"columns {got_cols} != {want_cols}"
        if len(got) != len(want):
            return f"{len(got)} rows, oracle has {len(want)}"
        diff = sum(a != b for a, b in zip(got, want))
        return f"{diff}/{len(got)} rows differ" if diff else None


def verify_mr_output(out_dir: str, num_reducers: int, truth: dict[str, str]) -> str | None:
    """None when ``out_dir`` is exactly the job output ``truth`` implies.

    ``truth`` maps each key to the value column its output line carries.
    The directory must hold exactly ``part-00000 .. part-{R-1}``; every key
    must sit in the part ``md5_partition`` assigns it, appear once, follow
    the previous key in C-locale (byte) order, and carry its true value."""
    want = {f"part-{p:05d}" for p in range(num_reducers)}
    have = set(os.listdir(out_dir))
    if have != want:
        return f"part files {sorted(have)} != {sorted(want)}"
    seen = 0
    for p in range(num_reducers):
        prev = None
        with open(os.path.join(out_dir, f"part-{p:05d}"), "rb") as fh:
            for n, raw in enumerate(fh, 1):
                line = raw.rstrip(b"\n").decode("utf-8", "surrogateescape")
                key, _, value = line.partition("\t")
                where = f"part-{p:05d}:{n} key {key!r}"
                if md5_partition(line, num_reducers) != p:
                    return f"{where} belongs in part {md5_partition(line, num_reducers)}"
                k = key.encode("utf-8", "surrogateescape")
                if prev is not None and k <= prev:
                    return f"{where} is out of C-locale order"
                prev = k
                if truth.get(key) != value:
                    return f"{where} has value {value[:40]!r}, want {str(truth.get(key))[:40]!r}"
                seen += 1
    if seen != len(truth):
        return f"{seen} keys written, {len(truth)} expected"
    return None
