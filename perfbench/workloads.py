"""The benchmark's workloads: inputs, one pass of operations, checks.

A pass is a list of named operations run one at a time (a closed loop
with one client). Each operation is a ``(build, execute)`` pair:
``build`` returns the lazy plan (or does all the work, for calls that
run their own actions) and ``execute`` runs the plan's final action.
Checks run in their own untimed pass and return ``(name, ok, detail)``.
"""

from __future__ import annotations

import importlib.util
import json
import os
from collections.abc import Callable
from dataclasses import dataclass
from functools import lru_cache

import inputs

# sql_analytics -------------------------------------------------------------
SQL_QUERIES = [
    "q09_multiway_join", "q10_left_outer_join", "q17_agg_suite",
    "q18_count_distinct", "q19_rollup", "q23_topk_per_group",
    "q24_rolling_window", "q35_tumbling_window", "q58_cube_grouping",
    "q70_rank_suite", "q71_value_windows", "q77_grouping_sets",
]
# relational inputs at this scale: planning, codegen and per-job
# overhead dominate, as at sf0.1, for a fraction of sf0.1's pass time
SQL_SF = 0.01

# curation --------------------------------------------------------------------
# corpus = CURATION_MULT x the fixture's 5,000 docs, benchmark stride
# equal to the multiplier (the fixed-eval-set convention); x1 keeps a
# run within the run budget on a slow host window (NOTES.md)
CURATION_MULT = 1
CURATION_DOCS = 5_000 * CURATION_MULT
# (docs, tokens, shards) the default seed keeps, recorded from a run
DEFAULT_SEED = 1
CURATION_EXPECTED = {DEFAULT_SEED: [4316, 236466, 12]}

Op = tuple[str, Callable[[], object], Callable[[object], None]]


@lru_cache(maxsize=1)
def check_oracle():
    """``tools/check_oracle.py`` loaded by path, for its value
    canonicalisation."""
    path = os.path.join(inputs.ROOT, "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


@dataclass
class SqlAnalytics:
    """Oracle-checked relational queries through the noop sink."""

    spark: object
    data_dir: str = ""
    name = "sql_analytics"

    def build_inputs(self, out_dir: str, seed: int) -> dict:
        self.data_dir = out_dir
        # every catalog table: q77 registers them all as views
        return inputs.make_fixture(out_dir, SQL_SF, seed)

    def tables(self) -> list[tuple[str, str]]:
        from climate_data_pipelines_spark.catalog import TABLES

        return [(self.data_dir, t) for t in TABLES]

    def ops(self, pass_dir: str) -> list[Op]:
        from climate_data_pipelines_spark.queries import REGISTRY

        return [
            (q.split("_", 1)[0],
             (lambda fn=REGISTRY[q].fn: fn(self.spark, self.data_dir)),
             noop_write)
            for q in SQL_QUERIES
        ]

    def verify(self, pass_dir: str) -> list[tuple[str, bool, str]]:
        """Every query's rows against its DuckDB oracle, both sides
        fetched as pandas frames and canonicalised by
        ``tools/check_oracle.py``'s type-sensitive pandas path."""
        import duckdb

        from climate_data_pipelines_spark.catalog import TABLES
        from climate_data_pipelines_spark.queries import REGISTRY

        co = check_oracle()
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.data_dir}/{t}.parquet')")
        out = []
        for q in SQL_QUERIES:
            spdf = REGISTRY[q].fn(self.spark, self.data_dir).toPandas()
            opdf = con.execute(REGISTRY[q].oracle).df()
            ok = (list(spdf.columns) == list(opdf.columns)
                  and co.pandas_canonical(spdf) == co.pandas_canonical(opdf))
            out.append((q, ok, f"{len(spdf)} rows, oracle {len(opdf)}"))
        con.close()
        return out


@dataclass
class Curation:
    """``curate_corpus`` (default recipe) over a seeded Zipf corpus."""

    spark: object
    seed: int = DEFAULT_SEED
    data_dir: str = ""
    name = "curation"

    def build_inputs(self, out_dir: str, seed: int) -> dict:
        self.seed = seed
        self.data_dir = out_dir
        return inputs.make_curation_inputs(out_dir, CURATION_DOCS, seed)

    def tables(self) -> list[tuple[str, str]]:
        return [(self.data_dir, "documents")]

    def ops(self, pass_dir: str) -> list[Op]:
        from climate_data_pipelines_spark.plans.llm_curation import curate_corpus

        def corpus():
            manifest = curate_corpus(self.spark, self.data_dir,
                                     f"{pass_dir}/curated",
                                     bench_stride=CURATION_MULT)
            with open(f"{pass_dir}/manifest.json", "w") as fh:
                json.dump(manifest, fh)

        return [("curate_corpus", corpus, lambda _: None)]

    def verify(self, pass_dir: str) -> list[tuple[str, bool, str]]:
        """The pass's manifest against the shards read back with
        pyarrow (no Spark job): per-shard and total docs and tokens
        equal, ``doc_id`` unique, and for the default seed the
        recorded totals."""
        import pyarrow.dataset as ds

        with open(f"{pass_dir}/manifest.json") as fh:
            manifest = json.load(fh)
        table = ds.dataset(f"{pass_dir}/curated/shards", format="parquet",
                           partitioning="hive").to_table(
            columns=["doc_id", "n_tok", "shard"])
        ids = table.column("doc_id")
        per_shard: dict[int, list[int]] = {}
        for shard, n_tok in zip(table.column("shard").to_pylist(),
                                table.column("n_tok").to_pylist()):
            docs_tokens = per_shard.setdefault(int(shard), [0, 0])
            docs_tokens[0] += 1
            docs_tokens[1] += n_tok
        listed = {s["shard"]: [s["docs"], s["tokens"]] for s in manifest["shards"]}
        totals = [manifest["total_docs"], manifest["total_tokens"],
                  manifest["n_shards"]]
        self.summary = {"kept_docs_tokens_shards": totals}
        out = [
            ("manifest_vs_shards", listed == per_shard
             and totals[0] == table.num_rows
             and totals[1] == sum(v[1] for v in per_shard.values()),
             f"{table.num_rows} docs in {len(per_shard)} shards read back"),
            ("doc_id_unique", len(ids.unique()) == len(ids),
             f"{len(ids.unique())} distinct of {len(ids)}"),
        ]
        if self.seed in CURATION_EXPECTED:
            expected = CURATION_EXPECTED[self.seed]
            out.append(("recorded_totals", totals == expected,
                        f"got {totals}, recorded {expected}"))
        return out


WORKLOADS = {w.name: w for w in (SqlAnalytics, Curation)}
