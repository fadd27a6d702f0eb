"""The benchmark's workloads: what each sets up, the operations one pass
runs (in a fixed order), and the untimed correctness check.

Every operation is a call into a public function of `seqarray_spark`
(or a `__spark_entry__.queries()` gate), named `<module>.<op>` after
the module that does the work.
"""

from __future__ import annotations

import os
import sys
from dataclasses import dataclass
from typing import Callable

import numpy as np

import inputs


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


@dataclass
class Op:
    """One operation. `build(ctx)` returns the DataFrame (or dataset)
    built through the public API; `plan(built)` the DataFrame whose
    physical plan is forced (None = no separate plan step); `run(ctx,
    built)` executes it: a noop write for a scan, the file write for a
    write operation."""

    name: str
    build: Callable
    run: Callable = lambda ctx, df: noop(df)
    plan: Callable | None = lambda df: df


def dir_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
    )


def compare_counts(expected: dict, observed: list[tuple]) -> list[str]:
    """Compare (position, REF count, AN) rows with the generator's
    position -> (REF count, AN) map; returns the problems found."""
    problems = []
    seen = set()
    for pos, ref, an in observed:
        pos = int(pos)
        seen.add(pos)
        want = expected.get(pos)
        got = (0 if ref is None else int(ref), int(an))
        if want is None:
            problems.append(f"unexpected variant at {pos}")
        elif got != want:
            problems.append(f"position {pos}: REF count/AN {got} != {want}")
    missing = len(set(expected) - seen)
    if missing:
        problems.append(f"{missing} expected variants missing")
    return problems


class Workload:
    name = ""
    shape: dict = {}
    # warm pass time on a 4-core host; sets the measured pass count
    nominal_pass_s = 1.0

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed

    # filled by subclasses
    def setup_inputs(self) -> None: ...
    def ops(self) -> list[Op]: ...
    def check(self) -> tuple[int, list[str]]: ...
    def records(self) -> int: ...
    def storage(self) -> dict[str, float]: ...

    def import_ops(self) -> list[Op]:
        return []

    def warm_up(self, run, ops) -> None:
        """One pass at the measured shape, part of setup."""
        run.one_pass(-1, ops)


# ---------------------------------------------------------------------------
# cohort_qc: import once, then the QC scans an analyst runs
# ---------------------------------------------------------------------------

COHORT_SHAPE = {"n_variants": 2000, "n_samples": 120}


class CohortQC(Workload):
    name = "cohort_qc"
    nominal_pass_s = 6.0
    shape = COHORT_SHAPE

    def setup_inputs(self) -> None:
        self.cohort = inputs.make_cohort(self.seed, **COHORT_SHAPE)
        self.vcf = os.path.join(self.work, "cohort.vcf")
        self.vcf_bytes = inputs.write_vcf(self.cohort, self.vcf)
        self.ds_dir = os.path.join(self.work, "cohort_ds")
        self.packed_dir = os.path.join(self.work, "cohort_packed.parquet")
        self.gds_path = os.path.join(self.work, "cohort.gds")
        rng = np.random.default_rng(self.seed)
        picks = rng.choice(inputs.N_CHROM, size=2, replace=False) + 1
        self.region = sorted(str(c) for c in picks)

    def import_ops(self) -> list[Op]:
        """The one-time import into parquet, packed and GDS forms."""
        from seqarray_spark.dataset import SeqDataset
        from seqarray_spark.sources.gds_write import write_gds
        from seqarray_spark.sources.packed import pack_2bit_genotypes
        from seqarray_spark.sources.vcf import read_vcf

        spark = self.spark
        return [
            Op(
                "sources.vcf.ingest",
                build=lambda ctx: read_vcf(spark, self.vcf, assign_ids="hash"),
                plan=lambda ds: ds.calls,
                run=lambda ctx, ds: ds.export(self.ds_dir, partition_by_chrom=False),
            ),
            Op(
                "sources.packed.pack",
                build=lambda ctx: pack_2bit_genotypes(SeqDataset.read(spark, self.ds_dir)),
                run=lambda ctx, df: df.write.mode("overwrite").parquet(self.packed_dir),
            ),
            Op(
                "sources.gds_write.write",
                build=lambda ctx: SeqDataset.read(spark, self.ds_dir),
                plan=None,
                run=lambda ctx, ds: write_gds(ds, self.gds_path),
            ),
        ]

    def ops(self) -> list[Op]:
        from seqarray_spark.dataset import SeqDataset, ordered_sample_ids
        from seqarray_spark.operators.aggregates import af_ac_missing, missing_rate
        from seqarray_spark.operators.ld import hwe_test, ibs_from_packed, ld_pairs_from_packed
        from seqarray_spark.sources.gds_spark import from_gds
        from seqarray_spark.sources.packed import af_from_packed

        spark = self.spark

        def open_ds(ctx):
            ctx["ds"] = SeqDataset.read(spark, self.ds_dir)
            return ctx["ds"]

        def packed():
            return spark.read.parquet(self.packed_dir)

        return [
            Op("dataset.open", build=open_ds, plan=lambda ds: ds.calls,
               run=lambda ctx, ds: noop(ds.calls)),
            Op("operators.aggregates.af", build=lambda ctx: af_ac_missing(ctx["ds"].calls)),
            Op("operators.aggregates.missing_sample",
               build=lambda ctx: missing_rate(ctx["ds"].calls, per="sample")),
            Op("operators.ld.hwe", build=lambda ctx: hwe_test(ctx["ds"].calls)),
            Op("sources.packed.af", build=lambda ctx: af_from_packed(packed())),
            Op("operators.ld.ld_pairs",
               build=lambda ctx: ld_pairs_from_packed(packed(), ctx["ds"].variants)),
            Op("operators.ld.ibs",
               build=lambda ctx: ibs_from_packed(packed(), ordered_sample_ids(ctx["ds"].samples))),
            Op("sources.gds_spark.region",
               build=lambda ctx: af_ac_missing(
                   from_gds(spark, self.gds_path, chromosomes=self.region).calls)),
        ]

    def route_rows(self) -> dict[str, Callable[[], list[tuple]]]:
        """Per-variant (position, REF count, AN) from each storage route,
        each under its documented semantics: the long-format aggregate
        reports the REF count directly; the 2-bit packed column stores
        non-REF copies per call (fully missing calls only), so its REF
        count is AN - ac_alt."""
        from pyspark.sql import functions as F

        from seqarray_spark.dataset import SeqDataset
        from seqarray_spark.operators.aggregates import af_ac_missing
        from seqarray_spark.sources.gds_spark import from_gds
        from seqarray_spark.sources.packed import af_from_packed

        spark = self.spark

        def long_rows(ds):
            pos = ds.variants.select("variant_id", "position")
            return [tuple(r) for r in af_ac_missing(ds.calls).join(pos, "variant_id")
                    .select("position", "ac", "an").collect()]

        def parquet():
            return long_rows(SeqDataset.read(spark, self.ds_dir))

        def packed():
            ds = SeqDataset.read(spark, self.ds_dir)
            pos = ds.variants.select("variant_id", "position")
            af = af_from_packed(spark.read.parquet(self.packed_dir))
            return [tuple(r) for r in af.join(pos, "variant_id").select(
                "position", (F.col("an") - F.col("ac_alt")).alias("ref"), "an").collect()]

        def gds_region():
            return long_rows(from_gds(spark, self.gds_path, chromosomes=self.region))

        return {"parquet": parquet, "packed": packed, "gds_region": gds_region}

    def expected(self, route: str) -> dict:
        exp = self.cohort.expected_counts()
        if route == "gds_region":
            keep = set(self.region)
            exp = {
                int(p): exp[int(p)]
                for c, p in zip(self.cohort.chromosome, self.cohort.position)
                if c in keep
            }
        return exp

    def check(self) -> tuple[int, list[str]]:
        failures = []
        routes = self.route_rows()
        for route, rows in routes.items():
            try:
                problems = compare_counts(self.expected(route), rows())
            except Exception as e:  # a failed route is a failed check
                problems = [f"error: {e!r}"]
            if problems:
                failures.append(f"{route}: {'; '.join(problems[:3])}")
        return len(routes), failures

    def records(self) -> int:
        return self.cohort.n_calls

    def storage(self) -> dict[str, float]:
        n = self.cohort.n_calls
        return {
            "parquet_bytes_per_call": dir_bytes(self.ds_dir) / n,
            "packed_bytes_per_call": dir_bytes(self.packed_dir) / n,
            "gds_bytes_per_call": dir_bytes(self.gds_path) / n,
        }


# ---------------------------------------------------------------------------
# llm_dedup: per-batch dedup gates, where DataFrame construction dominates
# ---------------------------------------------------------------------------

LLM_SHAPE = {"n_docs": 500, "n_vecs": 500}
DEDUP_GATES = [
    ("operators.dedup", "doc_minhash_dups"),
    ("operators.dedup", "doc_incremental_dedup"),
    ("operators.dedup", "doc_dup_clusters"),
    ("operators.similarity", "emb_incremental_dedup"),
    ("operators.similarity", "emb_knn_join_pq"),
    ("operators.similarity", "emb_pq_adc_topk"),
]


class LlmDedup(Workload):
    name = "llm_dedup"
    nominal_pass_s = 8.0
    shape = LLM_SHAPE

    def setup_inputs(self) -> None:
        self.sf_dir = os.path.join(self.work, "llm_tables")
        self.table_bytes = inputs.write_llm_tables(
            self.seed, LLM_SHAPE["n_docs"], LLM_SHAPE["n_vecs"], self.sf_dir
        )

    def ops(self) -> list[Op]:
        import __spark_entry__ as entry

        queries = entry.queries()
        spark = self.spark
        return [
            Op(f"{module}.{gate}", build=lambda ctx, fn=queries[gate]: fn(spark, self.sf_dir))
            for module, gate in DEDUP_GATES
        ]

    def warm_up(self, run, ops) -> None:
        """The setup's first pass at the measured shape is the
        correctness check: each gate runs once through
        tools/check_correctness against its DuckDB oracle. That pass is
        cold, and the pass after it still runs 10-30% slower than later
        ones, so one more untimed pass follows (pass number -2, which
        no metric reads)."""
        from tools.check_correctness import run_checks

        run.reset_state()
        self.check_failures = []
        for op, (_, gate) in zip(ops, DEDUP_GATES):
            failures = run.tracer.span(-1, op.name, "exec", lambda gate=gate: run_checks(
                self.spark, self.sf_dir, only={gate},
                echo=lambda *a: print(*a, file=sys.stderr),
            ))
            self.check_failures += [f"{name}: {why}" for name, why in failures]
        run.one_pass(-2, ops)

    def check(self) -> tuple[int, list[str]]:
        return len(DEDUP_GATES), self.check_failures

    def records(self) -> int:
        return LLM_SHAPE["n_docs"] + LLM_SHAPE["n_vecs"]

    def storage(self) -> dict[str, float]:
        # the workload's one stored form is its parquet input tables; it
        # keeps no packed or GDS form, so all three report that form
        per = sum(self.table_bytes.values()) / self.records()
        return {
            "parquet_bytes_per_call": per,
            "packed_bytes_per_call": per,
            "gds_bytes_per_call": per,
        }


WORKLOADS = {w.name: w for w in (CohortQC, LlmDedup)}
