"""Restart from checkpoint, for every store-backed processor, through
the one stream starter (streaming/runner.py::start_file_stream).

A first query drains the first files and stops; the rest land while
the process is down; a NEW query on the same checkpoint — with a
freshly built processor, as a restarted deployment would build it —
must resume at the right file offset and continue the epoch numbering
(committed epochs are neither reprocessed nor overwritten), and the
end-of-stream flush must equal the batch answer over every file. A
store compaction that crashed mid-build while the process was down is
discarded when the restarted processor is built (streaming/store.py
recovery contract), before the stream can read the store."""

from __future__ import annotations

import glob
import os
import shutil
import time

import pytest

from conftest import gopher_doc_text
from test_attribution_disorder import D as ATTR_D
from test_attribution_disorder import EXPECTED as ATTR_EXPECTED
from test_attribution_disorder import FILES as ATTR_FILES
from test_attribution_disorder import W as ATTR_W
from test_sessionize_stream import DIS_FILES, DIS_W, GAP, ROWS, ROWS_D, SLICES

from hha_spark.caching import release_tracked
from hha_spark.streaming import store
from hha_spark.streaming.runner import start_file_stream

_SESS_SCHEMA = "user_id long, ts_us long"
_ATTR_SCHEMA = "user_id long, ts_s long, etype string"
_DOC_SCHEMA = "doc_id long, source string, text string"

# curation: an exact dup inside the first half, a near dup of it in
# the OTHER half, so the restarted epoch must fold into carried labels
_DOCS = [
    (1, "a", gopher_doc_text(800)),
    (2, "a", gopher_doc_text(800)),
    (3, "b", gopher_doc_text(800, mutate=1)),
    (4, "b", gopher_doc_text(900)),
    (5, "c", gopher_doc_text(950)),
]


def _session_keys(df):
    return sorted(
        (r.user_id, r.start_us, r.end_us, r.n_events) for r in df.collect()
    )


def _ordered_sessionize():
    from hha_spark.streaming.sessionize import (
        final_sessions,
        make_sessionize_processor,
        sessionize_batch,
    )

    return dict(
        schema=_SESS_SCHEMA,
        files=[[r for r in ROWS if a <= r[1] < b] for a, b in SLICES],
        make=lambda spark, root: make_sessionize_processor(
            spark, store_root=root, gap_us=GAP
        ),
        flush=lambda spark, root: _session_keys(
            final_sessions(spark, store_root=root)
        ),
        batch=lambda spark: _session_keys(
            sessionize_batch(
                spark.createDataFrame(ROWS, _SESS_SCHEMA), gap_us=GAP
            )
        ),
    )


def disorder_sessionize_case():
    from hha_spark.streaming.sessionize import (
        final_sessions_disorder,
        make_disorder_sessionize_processor,
        sessionize_batch,
    )

    return dict(
        schema=_SESS_SCHEMA,
        files=DIS_FILES,
        make=lambda spark, root: make_disorder_sessionize_processor(
            spark, store_root=root, gap_us=GAP, disorder_us=DIS_W
        ),
        flush=lambda spark, root: _session_keys(
            final_sessions_disorder(spark, store_root=root, gap_us=GAP)
        ),
        batch=lambda spark: _session_keys(
            sessionize_batch(
                spark.createDataFrame(ROWS_D, _SESS_SCHEMA), gap_us=GAP
            )
        ),
    )


def _disorder_attribution():
    from hha_spark.streaming.joins import (
        final_attributions,
        make_disorder_attribution_processor,
    )

    return dict(
        schema=_ATTR_SCHEMA,
        files=ATTR_FILES,
        make=lambda spark, root: make_disorder_attribution_processor(
            spark, store_root=root, max_delay_sec=ATTR_D, disorder_sec=ATTR_W
        ),
        flush=lambda spark, root: sorted(
            (r.user_id, r.ts_s, r.ts2_s)
            for r in final_attributions(
                spark, store_root=root, max_delay_sec=ATTR_D
            ).collect()
        ),
        batch=lambda spark: sorted(ATTR_EXPECTED),
    )


def curation_funnel_case():
    from hha_spark.queries.corpus import curation_funnel
    from hha_spark.streaming.curation_stream import (
        final_curation_funnel,
        make_curation_funnel_processor,
    )

    return dict(
        schema=_DOC_SCHEMA,
        files=[_DOCS[:2], _DOCS[2:4], _DOCS[4:]],
        make=lambda spark, root: make_curation_funnel_processor(
            spark, store_root=root
        ),
        flush=lambda spark, root: sorted(
            map(tuple, final_curation_funnel(spark, store_root=root).collect())
        ),
        batch=lambda spark: sorted(
            map(
                tuple,
                curation_funnel(
                    spark.createDataFrame(_DOCS, _DOC_SCHEMA)
                ).collect(),
            )
        ),
    )


def check_restart(spark, tmp_path, c):
    """Drive the restart scenario for one case dict (schema, files,
    make, flush, batch). The disorder-sessionize and curation cases
    are driven from their own modules' restart tests."""
    files = c["files"]
    first = len(files) - 1  # the restart has exactly one file to take
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    root = str(tmp_path / "store")
    base = time.time() - 500

    def land(i):
        d = str(tmp_path / f"f{i}")
        frame = spark.createDataFrame(files[i], c["schema"])
        frame.coalesce(1).write.parquet(d)
        (part,) = glob.glob(f"{d}/part-*.parquet")
        dst = f"{in_dir}/slice{i}.parquet"
        shutil.move(part, dst)
        os.utime(dst, (base + 10 * i, base + 10 * i))

    def run():
        start_file_stream(
            spark,
            data_root=in_dir,
            schema=c["schema"],
            process=c["make"](spark, root),
            checkpoint=str(tmp_path / "ckpt"),
        ).awaitTermination()

    for i in range(first):
        land(i)
    run()  # drains the first files (one epoch each), then stops
    v_first = store.versions(spark, root)
    assert v_first == list(range(first))
    release_tracked()
    for i in range(first, len(files)):
        land(i)  # lands while the process is down
    staging = f"{root}/{store._STAGING}"
    os.makedirs(f"{staging}/kind=junk")  # a fold that crashed mid-build
    run()  # a new query on the same checkpoint
    assert not os.path.exists(staging)
    # the restart resumed at the next epoch: committed versions
    # survive untouched and exactly the new file's epoch was added
    assert store.versions(spark, root) == list(range(len(files)))
    assert c["flush"](spark, root) == c["batch"](spark)


@pytest.mark.parametrize(
    "case",
    [_ordered_sessionize, _disorder_attribution],
    ids=lambda f: f.__name__.lstrip("_"),
)
def test_restart_from_checkpoint_equals_batch(spark, tmp_path, case):
    check_restart(spark, tmp_path, case())
