"""Self-tests of the benchmark's own logic (no Spark needed).

    python3 -m pytest seqbench/test_selfcheck.py -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import layers  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402


def _parse_vcf_counts(path: str) -> dict[int, tuple[int, int]]:
    """REF count and AN per position, read back from the VCF text."""
    out = {}
    with open(path) as fh:
        for line in fh:
            if line.startswith("#"):
                continue
            cols = line.rstrip("\n").split("\t")
            ref = an = 0
            for gt in cols[9:]:
                for allele in gt.replace("|", "/").split("/"):
                    if allele != ".":
                        an += 1
                        ref += allele == "0"
            out[int(cols[1])] = (ref, an)
    return out


def test_generator_counts_match_vcf_text(tmp_path):
    cohort = inputs.make_cohort(7, 300, 40)
    path = str(tmp_path / "c.vcf")
    inputs.write_vcf(cohort, path)
    assert _parse_vcf_counts(path) == cohort.expected_counts()
    assert cohort.triallelic.any() and cohort.missing.any()


def test_generator_is_seeded(tmp_path):
    a, b = str(tmp_path / "a.vcf"), str(tmp_path / "b.vcf")
    inputs.write_vcf(inputs.make_cohort(3, 50, 10), a)
    inputs.write_vcf(inputs.make_cohort(3, 50, 10), b)
    assert open(a).read() == open(b).read()


def test_compare_counts_flags_planted_wrong_count():
    exp = inputs.make_cohort(5, 80, 30).expected_counts()
    rows = [(p, ref, an) for p, (ref, an) in exp.items()]
    assert workloads.compare_counts(exp, rows) == []
    pos, ref, an = rows[10]
    planted = rows[:10] + [(pos, ref + 1, an)] + rows[11:]
    assert workloads.compare_counts(exp, planted)
    assert workloads.compare_counts(exp, rows[1:])  # a variant lost


def test_cohort_check_fails_on_planted_wrong_count():
    wl = workloads.CohortQC.__new__(workloads.CohortQC)
    wl.cohort = inputs.make_cohort(9, 120, 20)
    wl.region = ["3", "4"]
    exp = wl.cohort.expected_counts()
    good = [(p, r, a) for p, (r, a) in exp.items()]
    region = [row for row in good if row[0] in wl.expected("gds_region")]
    bad = list(good)
    bad[0] = (bad[0][0], bad[0][1], bad[0][2] + 2)

    def routes(parquet_rows):
        return lambda: {
            "parquet": lambda: parquet_rows,
            "packed": lambda: good,
            "gds_region": lambda: region,
        }

    wl.route_rows = routes(good)
    assert wl.check() == (3, [])
    wl.route_rows = routes(bad)
    n, failures = wl.check()
    assert n == 3 and len(failures) == 1 and failures[0].startswith("parquet")


def test_plan_shape_counts_nodes():
    tree = """AdaptiveSparkPlan isFinalPlan=false
+- HashAggregate(keys=[k#1], functions=[count(1)])
   +- Exchange hashpartitioning(k#1, 4), ENSURE_REQUIREMENTS, [plan_id=5]
      +- BroadcastHashJoin [a#2], [b#3], Inner, BuildRight
         :- MapInArrow f(a#2), [a#2]
         :  +- FileScan parquet [a#2] Batched: true
         +- BroadcastExchange HashedRelationBroadcastMode, [plan_id=4]
            +- InMemoryTableScan [b#3]
"""
    assert spans.plan_shape(tree) == {
        "exchanges": 1, "broadcast_exchanges": 1, "scans": 1,
        "python_evals": 1, "in_memory_scans": 1,
    }


def test_layer_ops_are_the_workloads_ops():
    for table, wl in ((layers.COHORT_OPS, workloads.CohortQC),
                      (layers.LLM_OPS, workloads.LlmDedup)):
        assert list(table) == [op.name for op in wl(None, "", 0).ops()]
    imports = workloads.CohortQC(None, "", 0).import_ops()
    assert list(layers.IMPORT_OPS) == [op.name for op in imports]


def test_layer_names_match_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    declared = [(m["name"], m["unit"]) for m in spec["per_layer"]]
    assert declared == layers.names()
    assert len(declared) <= 128
    assert [w["name"] for w in spec["workloads"]] == layers.WORKLOAD_NAMES
