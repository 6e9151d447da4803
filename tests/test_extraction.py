"""Extraction stage vs a row-wise Python oracle."""

from __future__ import annotations

import itertools
import re

from jurisprudencia_privada_etl_spark.extraction import extraction_stage
from jurisprudencia_privada_etl_spark.functions.text import nfd_fold_py

# Spark's regexp_replace is a Java regex, whose \s is ASCII whitespace only;
# trim strips spaces only.  re.ASCII and strip(" ") state the same contract.
_WS = re.compile(r"\s+", re.ASCII)
_SCHEMA = ("epoch long, ordinal long, op string, repo string, path string, "
           "commit string, lang string, content string")


def _oracle(path: str | None) -> tuple:
    if path is None:
        return None, None, None
    title = _WS.sub(" ", nfd_fold_py(path.rsplit("/", 1)[-1])).strip(" ")
    return nfd_fold_py(path), title, "sumario" in title


def test_extraction_stage_matches_rowwise_oracle(spark):
    """path_norm / title_norm / is_summary row for row against plain Python.
    Each group is its own partition, so each Arrow batch takes a different
    branch of the batched fold: non-ASCII (NFD + mark strip), NUL in a row
    (per-row fallback) and all-ASCII (lower only)."""
    groups = [
        [
            "Acórdãos/Secção Cível/Sumário  do   Acórdão.pdf",
            "Área Criminal/2-3-2021/  Decisão\tfinal .pdf",
            None,
            "Jurisprudência/ΟΔΟΣ/SUMÁRIO ΟΔΟΣ.PDF",
            "Secção Social/sem título",
        ],
        ["Secção Social/sumário\x00anexo.pdf", "Acórdãos/Ação Executiva.pdf"],
        ["src/main/Sumario Geral.txt", "docs/README.md"],
    ]
    ordinal = itertools.count()
    slices = [[(0, next(ordinal), "I", "r", p, "c", "pdf", "um dois") for p in g] for g in groups]
    # one group per partition, so one group per Arrow batch
    rdd = spark.sparkContext.parallelize(slices, len(slices)).flatMap(lambda g: g)
    log = spark.createDataFrame(rdd, _SCHEMA)
    assert log.rdd.glom().map(len).collect() == [len(g) for g in groups]

    got = [
        (r["path_norm"], r["title_norm"], r["is_summary"])
        for r in extraction_stage(log).orderBy("ordinal").collect()
    ]
    want = [_oracle(p) for g in groups for p in g]
    assert got == want


def test_extraction_fields(spark):
    log = spark.createDataFrame(
        [(0, 1, "I", "r", "Área Cível/2-3-2021/Sumário Ação.pdf", "c", "pdf", "um dois três")],
        ["epoch", "ordinal", "op", "repo", "path", "commit", "lang", "content"],
    )
    row = extraction_stage(log).first()
    assert row["path_norm"] == "area civel/2-3-2021/sumario acao.pdf"
    assert row["title_norm"] == "sumario acao.pdf"
    assert row["is_summary"] is True
    assert row["n_tokens"] == 3
    assert row["ext"] == "pdf"
    assert str(row["path_date"]) == "2021-03-02"
    assert row["area"] == "Área Cível"
    assert row["folder"] == "Área Cível/2-3-2021"
