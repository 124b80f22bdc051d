"""Param validation (SURVEY.md §5.6, TestGPUSearchParams analogue) and
the manifest version gate (O12)."""

import dataclasses
import json

import pytest

from cuvs_lucene_spark.config import BM25Params, IndexConfig
from cuvs_lucene_spark.sources.catalog import IndexCatalog


def test_config_validation_ranges():
    IndexConfig()  # defaults valid
    with pytest.raises(ValueError, match="rows_per_segment"):
        IndexConfig(rows_per_segment=0)
    with pytest.raises(ValueError, match="block_size"):
        IndexConfig(block_size=-1)
    with pytest.raises(ValueError, match="merge_fanin"):
        IndexConfig(merge_fanin=1)
    with pytest.raises(ValueError, match="k1"):
        IndexConfig(bm25=BM25Params(k1=0.0))
    with pytest.raises(ValueError, match="b="):
        IndexConfig(bm25=BM25Params(b=1.5))
    with pytest.raises(ValueError, match="metric"):
        IndexConfig(ann=dataclasses.replace(IndexConfig().ann, metric="manhattan"))


def test_manifest_version_gate(tmp_path):
    cat = IndexCatalog(str(tmp_path))
    cat.mark_stage("x")
    with open(f"{tmp_path}/manifest.json") as f:
        m = json.load(f)
    m["version"] = 99
    with open(f"{tmp_path}/manifest.json", "w") as f:
        json.dump(m, f)
    with pytest.raises(ValueError, match="version 99 unsupported"):
        IndexCatalog(str(tmp_path)).read_manifest()

