"""Config-independence gate, in CI: the external driver builds a VANILLA
SparkSession (none of build_spark's confs), so every query must carry its
own semantic requirements via apply_runtime_semantics. A vanilla session
cannot coexist with the engine session in one JVM — this test subprocess-
runs the standalone contract driver (tools/drive_contract.py, the same
script the verify skill uses) over one representative query per
environmental-risk family.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

REPRESENTATIVES = ",".join(
    [
        "ref_lenient_date_cast",  # dies under ANSI mode
        "ref_daily_cumulative_metrics",  # timezone/date-cast semantics
        "strm_session_windows",  # streaming + ts-encoding detection
        "mm_feature_extract",  # pandas-UDF package shipping
        "sim_knn_pandas_udf",  # arrow batch UDF path
        "dd_minhash_lsh_pairs",  # cold shingle stage: no snapshot store
        "jn_bucketed_colocated_revenue",  # metastore/warehouse handling
        "strm_scd2_foreachbatch",  # landing-file mtime ordering + foreachBatch
        "ld_compact_small_files",  # Hadoop FS listing + tempdir writes
    ]
)


@pytest.mark.slow
def test_vanilla_session_contract():
    env = dict(os.environ)
    env["ONLY"] = REPRESENTATIVES
    env["SF_DIR"] = "/root/testdata/sf0.001"
    proc = subprocess.run(
        [sys.executable, os.path.join(os.path.dirname(__file__), "..", "tools", "drive_contract.py")],
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-3000:]
    assert ", 0 mismatch" in proc.stdout
