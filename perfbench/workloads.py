"""The benchmark's workloads: inputs, op lists and output checks.

A workload makes its inputs from the seed, names the ops of each pass,
runs one op (the timed part) and checks outputs (never timed).

- ``query_mix``: read-path catalog queries and one streaming query on
  seeded star-schema tables, each forced with the ``noop`` sink, in a
  seed-permuted order per pass.
- ``epe_workbook``: the paper's job, one seeded BIFF8 ``.xls`` workbook
  per op through ``read_workbook_grids`` -> ``grid_to_df`` ->
  ``run_pipeline`` -> ``write_fact``.

Catalog outputs are compared once per run with their DuckDB oracles,
using the canonical digest of ``tools/verify_local.py``; every fact table
written by ``epe_workbook`` is compared with the generator's truth.
"""

from __future__ import annotations

import functools
import os
import random
import shutil
import sys

import datagen
import workbook_gen

#: The read path's hot spots (star join with a Bloom prefilter, shared-span
#: dedup, PQ top-k), plus one multimodal and one streaming query so those
#: layers are measured too.
QUERY_MIX = (
    "join_bloom_prefilter",  # sources.tables scans, operators.joins
    "dedup_shared_spans",  # operators.dedup, functions
    "pq_adc_topk",  # PQ codebooks and ADC scoring
    "multimodal_frame_sample",  # multimodal
    "streaming_tumbling_window",  # streaming.ops micro-batches
)
#: table sizes of query_mix (60,000 lineitems)
SCALE = 0.01
#: epe_workbook input: year blocks per workbook and its sheet set
EPE_YEARS = 2
EPE_SHEETS = workbook_gen.COMPACT_SHEETS


class CheckFailed(Exception):
    """An op's output differs from its oracle or truth."""


class CatalogWorkload:
    """Catalog queries over seeded tables; an op is a query name."""

    #: a warm pass on a 4-core VM; sets the number of timed passes
    pass_seconds = 5.0

    def __init__(self, queries: tuple[str, ...], seed: int, work: str):
        self.queries, self.seed = queries, seed
        self.data = os.path.join(work, "data")
        self._rng = random.Random(seed)
        self._oracle = None

    def generate(self) -> None:
        datagen.make_tables(self.data, self.seed, SCALE)

    def warm_pass(self) -> list[str]:
        return list(self.queries)

    def next_pass(self) -> list[str]:
        ops = list(self.queries)
        self._rng.shuffle(ops)
        return ops

    def prepare(self, op: str) -> None:
        pass

    def run_op(self, spark, op: str, span) -> None:
        """Build the query's DataFrame, then force it with the noop sink."""
        q = _catalog()[op]
        with span("catalog.build"):
            df = q.fn(spark, self.data)
        with span("catalog.exec"):
            df.write.format("noop").mode("overwrite").save()

    def warm_op(self, spark, op: str) -> tuple[list[str], list[tuple]]:
        """The untimed warm-up of one op: build and collect. Returns the
        output for ``check_warm``."""
        df = _catalog()[op].fn(spark, self.data)
        return df.columns, [tuple(r) for r in df.collect()]

    def check_warm(self, op: str, output) -> None:
        from epe_data_wrangling_spark.catalog import resolve_oracle

        digest = _verify_local().table_digest
        cols, rows = output
        got = digest(cols, rows)
        res = self._duckdb().execute(resolve_oracle(_catalog()[op]))
        want = digest([d[0] for d in res.description], res.fetchall())
        if got != want:
            raise CheckFailed(f"{op}: spark {got} != oracle {want}")
        if got[0] == 0:
            raise CheckFailed(f"{op}: empty result")

    def check_op(self, op: str) -> dict:
        return {}

    def _duckdb(self):
        if self._oracle is None:
            import duckdb

            self._oracle = duckdb.connect()
            for t in _verify_local().TABLES:
                path = os.path.join(self.data, f"{t}.parquet")
                self._oracle.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return self._oracle

    def close(self) -> None:
        if self._oracle is not None:
            self._oracle.close()


class EpeWorkload:
    """The paper's ETL job; op ``k`` is the k-th seeded workbook."""

    #: one warm op on a 4-core VM; sets the number of timed passes
    pass_seconds = 5.0

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self._next = 0
        self._truth: dict[int, workbook_gen.Truth] = {}

    def generate(self) -> None:
        os.makedirs(os.path.join(self.work, "xls"), exist_ok=True)

    def warm_pass(self) -> list[int]:
        return [0]

    def next_pass(self) -> list[int]:
        self._next += 1
        return [self._next]

    def _paths(self, op: int) -> tuple[str, str]:
        return (
            os.path.join(self.work, "xls", f"epe_{op}.xls"),
            os.path.join(self.work, "fact", f"op_{op}"),
        )

    def prepare(self, op: int) -> None:
        """Write op's workbook (untimed)."""
        from epe_data_wrangling_spark.sources.xls_biff import write_xls

        grids, self._truth[op] = workbook_gen.make_workbook(
            self.seed * 1000 + op, EPE_YEARS, EPE_SHEETS
        )
        write_xls(self._paths(op)[0], grids)

    def run_op(self, spark, op: int, span) -> None:
        from epe_data_wrangling_spark.plans.epe_pipeline import run_pipeline, write_fact
        from epe_data_wrangling_spark.sources.workbook import grid_to_df, read_workbook_grids

        xls, out = self._paths(op)
        grids = read_workbook_grids(xls)
        sheets = {s: grid_to_df(spark, g, s) for s, g in grids.items()}
        write_fact(run_pipeline(spark, sheets), out)

    def warm_op(self, spark, op) -> int:
        self.run_op(spark, op, None)
        return op

    def check_warm(self, op, output) -> None:
        self.check_op(output)

    def check_op(self, op: int) -> dict:
        """Compare op's fact table with the generator's truth; return
        what the sink wrote, then delete it."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        xls, out = self._paths(op)
        truth = self._truth.pop(op)
        files = [os.path.join(d, f) for d, _, fs in os.walk(out) for f in fs]
        parts = [f for f in files if os.path.basename(f).startswith("part-")]
        written = {"files": len(parts), "bytes": sum(os.path.getsize(f) for f in parts)}
        table = pq.read_table(out)
        got = {}
        for row in table.group_by("chave_seletora").aggregate(
            [("valor", "count"), ("valor", "sum")]
        ).to_pylist():
            got[row["chave_seletora"]] = [row["valor_count"], int(row["valor_sum"] * 2)]
        months = len(pc.unique(table["data"]))
        shutil.rmtree(out)
        os.remove(xls)
        if table.num_rows != truth.rows or got != truth.keys or months != truth.months:
            wrong = sorted(k for k in set(got) | set(truth.keys) if got.get(k) != truth.keys.get(k))
            raise CheckFailed(
                f"workbook {op}: {table.num_rows} rows / {months} months, expected "
                f"{truth.rows} / {truth.months}; keys differing: {wrong[:3]}"
            )
        return written

    def close(self) -> None:
        pass


WORKLOADS = {
    "query_mix": lambda seed, work: CatalogWorkload(QUERY_MIX, seed, work),
    "epe_workbook": EpeWorkload,
}


@functools.cache
def _catalog():
    from epe_data_wrangling_spark.catalog import all_queries

    return all_queries()


def _verify_local():
    """tools/verify_local.py, imported as is (it puts a fixed checkout
    path first on sys.path; that entry is dropped again so imports keep
    resolving inside this checkout)."""
    mod = sys.modules.get("tools.verify_local")
    if mod is None:
        before = list(sys.path)
        from tools import verify_local as mod

        sys.path[:] = [p for p in sys.path if p in before]
    return mod
