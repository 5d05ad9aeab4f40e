"""Resume skips every partition type on the second run.

``_apply_resume`` matches the manifest against keys derived by
``partition_key_expr`` (Spark's ``cast('string')``); the keys written to
the manifest must come from the same derivation.  Python's ``str()``
spells booleans, fractional timestamps and large doubles differently
(``True`` / ``…00.500000`` / ``1e+20`` against ``true`` / ``…00.5`` /
``1.0E20``), so such partitions were re-validated on every resume and
gained a duplicate manifest row each time.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from snowy_json_spark.engine import ValidationEngine
from snowy_json_spark.streaming.manifest import Manifest, partition_key_expr

SPEC = {"required": ["id"], "properties": {"id": {"type": "string"}}}

# two partition values per case, as Spark SQL literals
CASES = {
    "bool": ("true", "false"),
    "timestamp_fraction": (
        "timestamp'2026-07-01 00:00:00.5'",
        "timestamp'2026-07-01 00:00:01.25'",
    ),
    "date": ("date'2026-07-01'", "date'2026-07-02'"),
    "double_1e20": ("CAST(1e20 AS DOUBLE)", "CAST(-2.5e-7 AS DOUBLE)"),
    "double_0.1": ("CAST(0.1 AS DOUBLE)", "CAST(0.2 AS DOUBLE)"),
    "null": ("CAST(NULL AS STRING)", "'a'"),
    "string": ("'a'", "'b'"),
}


def _frame(spark, values):
    rows = ", ".join(f"('{j}-{i}', {lit})" for j, lit in enumerate(values) for i in range(3))
    return spark.sql(f"SELECT * FROM VALUES {rows} AS t(id, p)")


@pytest.mark.parametrize("method", ["run", "run_single_pass"])
@pytest.mark.parametrize("case", list(CASES))
def test_second_run_skips_every_partition(spark, tmp_path, case, method):
    df = _frame(spark, CASES[case])
    keys = sorted(r[0] for r in df.select(partition_key_expr(["p"])).distinct().collect())
    man = Manifest(str(tmp_path / "manifest"))

    def run():
        eng = ValidationEngine(SPEC, id_cols=["id"], partition_cols=["p"])
        if method == "run":
            return eng.run(df, manifest=man)
        return eng.run_single_pass(df, str(tmp_path / "out"), manifest=man)

    first = run()
    assert first.skipped_partitions == []
    assert first.verdicts.count() == len(keys)

    again = run()
    assert again.skipped_partitions == keys
    assert again.verdicts.count() == 0
    per_key = {
        r["partition_key"]: r["count"]
        for r in man.read(spark).groupBy("partition_key").agg(F.count(F.lit(1)).alias("count")).collect()
    }
    assert per_key == {k: 1 for k in keys}
