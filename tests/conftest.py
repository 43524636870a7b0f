from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    from ingest_sharepoint_file_to_fabric_lakehouse_spark.core import (
        recommended_session_conf,
    )

    # engine-recommended session conf (codegen class cache sized to the
    # registry — STATIC, build-time only — plus UTC/AQE/Arrow): single
    # source of truth; see core.recommended_session_conf
    b = SparkSession.builder.master("local[4]")
    for k, v in recommended_session_conf(4).items():
        b = b.config(k, v)
    s = (
        b.config("spark.ui.enabled", "false")
        .appName("ingest-sharepoint-file-to-fabric-lakehouse-spark-tests")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
