from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lk_data_test_spark.session import get_spark  # noqa: E402
from lk_data_test_spark.datagen import GenConfig, generate  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("lk-validate-tests", cores=8, shuffle_partitions=16,
                  driver_memory="8g")
    yield s


# small config for fast tests: 10 parts covers every role twice
TEST_CFG = GenConfig(n_parts=10, rows_per_part=1200)


@pytest.fixture(scope="session")
def corpus_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("corpus"))
    generate(spark, d, TEST_CFG)
    return d


def stats_oracle(part_dir: str, bucket_width: int = 64) -> dict:
    """column_stats' per-partition stats dict computed straight from the
    parquet files of one partition directory with pyarrow and plain Python
    (no Spark, no engine code): the reference the stats function must
    match."""
    from collections import Counter

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(part_dir, columns=["doc_id", "tokens", "n_tok", "source"])
    n_tok = t["n_tok"].to_pylist()
    sizes = pc.list_value_length(t["tokens"]).to_pylist()
    vals = [n for n in n_tok if n is not None]
    hist = Counter(-1 if n is None else n // bucket_width for n in n_tok)
    return {
        "row_count": t.num_rows,
        "null_doc_id": t["doc_id"].null_count,
        "null_source": t["source"].null_count,
        "null_n_tok": t["n_tok"].null_count,
        "null_tokens": t["tokens"].null_count,
        "nonpos_n_tok": sum(n <= 0 for n in vals),
        "len_mismatch": sum(
            n is not None and s is not None and n != s
            for n, s in zip(n_tok, sizes)
        ),
        "sum_n_tok": sum(vals),
        "min_n_tok": min(vals, default=None),
        "max_n_tok": max(vals, default=None),
        "n_tok_hist": {str(b): c for b, c in sorted(hist.items())},
    }
