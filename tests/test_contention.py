"""Multi-PROCESS commit contention on one native delta table.

The optimistic-concurrency loop (deltalog._publish_commit: hard-link
to the versioned name, EEXIST = lose, retry at the next version) is
pytest-pinned in-process elsewhere; this module pins the cross-process
reality a 100 TB maintenance window lives in — two independent
writers (separate JVMs, separate Python processes, zero shared state
beyond the filesystem) hammering appends into one table that ALSO has
autoCompact and auto-checkpointing enabled, so dataChange:false
compaction commits and checkpoint writes race the data commits.

Linearizability claims asserted on the survivor log:
- no lost commits: every (worker, seq) batch lands exactly once, and
  total rows == sum of appends (compaction moved bytes, never rows);
- contiguous versions: the JSON log is 0..N with no gaps — every
  version number was won by exactly one writer;
- every commit parses and carries exactly one commitInfo;
- the table is readable at the tip through the ordinary snapshot path
  (checkpoint + tail replay) after the dust settles.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Each worker process: own SparkSession (small local[4] — two of these
# run concurrently), waits on the 'go' sentinel so the append trains
# genuinely overlap, then APPEND_N batches tagged (worker, seq).
WORKER_SRC = r"""
import os, sys, time
sys.path.insert(0, sys.argv[1])
tbl, worker, n_appends, rows_per, sync_dir = (
    sys.argv[2], int(sys.argv[3]), int(sys.argv[4]), int(sys.argv[5]),
    sys.argv[6],
)
from pyspark.sql import SparkSession
spark = (
    SparkSession.builder.master("local[4]")
    .appName(f"contention-w{worker}")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
from value_at_risk_spark.sources.deltalog import write_delta

open(os.path.join(sync_dir, f"ready_{worker}"), "w").close()
deadline = time.time() + 120
while not os.path.exists(os.path.join(sync_dir, "go")):
    if time.time() > deadline:
        raise TimeoutError("no go signal")
    time.sleep(0.05)

for seq in range(n_appends):
    rows = [(worker, seq, i) for i in range(rows_per)]
    df = spark.createDataFrame(rows, "worker int, seq int, i long").coalesce(1)
    write_delta(spark, df, tbl, mode="append")
print("DONE", worker)
"""


def test_two_process_append_autocompact_contention(spark, tmp_path):
    n_appends, rows_per = 8, 500
    tbl = str(tmp_path / "contended")
    sync_dir = str(tmp_path / "sync")
    os.makedirs(sync_dir)

    # the parent creates the table with the maintenance properties
    # BEFORE the race so both trains run under autoCompact from their
    # first append (a racing create is separately covered by the
    # engine's lost-create conflict rule); the seed batch is worker=9.
    from value_at_risk_spark.sources.deltalog import write_delta

    write_delta(
        spark,
        spark.createDataFrame(
            [(9, 0, 0)], "worker int, seq int, i long"
        ).coalesce(1),
        tbl,
        configuration={
            "delta.autoOptimize.autoCompact": "true",
            "delta.autoOptimize.minNumFiles": "6",
            "delta.checkpointInterval": "5",
        },
    )
    procs = [
        subprocess.Popen(
            [
                sys.executable,
                "-c",
                WORKER_SRC,
                REPO,
                tbl,
                str(w),
                str(n_appends),
                str(rows_per),
                sync_dir,
            ],
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
            text=True,
        )
        for w in (0, 1)
    ]
    deadline = time.time() + 180
    while time.time() < deadline and not all(
        os.path.exists(os.path.join(sync_dir, f"ready_{w}")) for w in (0, 1)
    ):
        time.sleep(0.1)
    open(os.path.join(sync_dir, "go"), "w").close()
    outs = []
    for p in procs:
        out, err = p.communicate(timeout=300)
        outs.append((p.returncode, out, err))
    for rc, out, err in outs:
        assert rc == 0, f"worker failed rc={rc}\n{out}\n{err[-3000:]}"

    from value_at_risk_spark.sources.deltalog import read_delta, snapshot

    # --- no lost commits: every batch exactly once, rows conserved
    got = (
        read_delta(spark, tbl)
        .groupBy("worker", "seq")
        .count()
        .collect()
    )
    per_batch = {(r.worker, r.seq): r["count"] for r in got}
    expect = {
        (w, s): rows_per for w in (0, 1) for s in range(n_appends)
    }
    expect[(9, 0)] = 1  # the parent's seed batch
    assert per_batch == expect, sorted(
        set(expect) ^ set(per_batch)
    )

    # --- contiguous versions, each a parseable single-commitInfo file
    log = os.path.join(tbl, "_delta_log")
    versions = sorted(
        int(f[:20])
        for f in os.listdir(log)
        if f.endswith(".json") and f[:20].isdigit()
    )
    assert versions == list(range(len(versions))), versions
    n_compactions = 0
    n_data_commits = 0
    for v in versions:
        with open(os.path.join(log, f"{v:020d}.json")) as fh:
            actions = [json.loads(ln) for ln in fh if ln.strip()]
        assert sum(1 for a in actions if "commitInfo" in a) <= 1
        adds = [a["add"] for a in actions if "add" in a]
        if adds and all(not a.get("dataChange", True) for a in adds):
            n_compactions += 1
        elif adds:
            n_data_commits += 1
    # both workers' appends landed as data commits (16 + the seed),
    # plus whatever compactions won their races — the log proves the
    # maintenance commits interleaved with the contended appends
    assert n_data_commits == 2 * n_appends + 1, (
        n_data_commits,
        n_compactions,
    )
    # 16 small files against minNumFiles=6 crosses the threshold many
    # times across both processes; at least one compaction must win
    assert n_compactions >= 1, "autoCompact never succeeded under contention"

    # --- tip readable through the ordinary snapshot path (checkpoint
    # interval 5 means auto-checkpoints raced the appends too)
    snap = snapshot(tbl)
    assert read_delta(spark, tbl).count() == 2 * n_appends * rows_per + 1
    assert snap.version == versions[-1]


# DML worker: a loop of copy-on-write UPDATEs incrementing one row's
# counter — the classic lost-update witness. Every increment must
# re-identify its file against the tip it commits over, so a racing
# append forces the retry path, never a lost increment.
DML_WORKER_SRC = r"""
import os, sys, time
sys.path.insert(0, sys.argv[1])
tbl, n_updates, sync_dir = sys.argv[2], int(sys.argv[3]), sys.argv[4]
from pyspark.sql import SparkSession
spark = (
    SparkSession.builder.master("local[4]")
    .appName("contention-dml")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
from value_at_risk_spark.sources.deltalog import update_delta

open(os.path.join(sync_dir, "ready_dml"), "w").close()
deadline = time.time() + 120
while not os.path.exists(os.path.join(sync_dir, "go")):
    if time.time() > deadline:
        raise TimeoutError("no go signal")
    time.sleep(0.05)

for _ in range(n_updates):
    out = update_delta(
        spark, tbl, "worker = 9", {"v": "v + 1"}
    )
    assert out["rows_updated"] == 1, out
print("DONE dml")
"""

APPEND_WORKER_V_SRC = WORKER_SRC.replace(
    'rows = [(worker, seq, i) for i in range(rows_per)]',
    'rows = [(worker, seq, i, 0.0) for i in range(rows_per)]',
).replace(
    '"worker int, seq int, i long"', '"worker int, seq int, i long, v double"'
).replace(
    'f"ready_{worker}"', '"ready_app"'
)


def test_append_vs_update_cross_process_no_lost_increment(spark, tmp_path):
    """One process appends batches while another runs copy-on-write
    UPDATEs incrementing a single row's counter. Linearizability on
    the survivor state: the counter equals EXACTLY the update count
    (no lost update ever — each UPDATE re-identified its touched file
    against the tip it committed over), every append batch lands
    exactly once, and versions are gapless."""
    n_appends, rows_per, n_updates = 6, 300, 6
    tbl = str(tmp_path / "dml_contended")
    sync_dir = str(tmp_path / "sync")
    os.makedirs(sync_dir)

    from value_at_risk_spark.sources.deltalog import read_delta, write_delta

    write_delta(
        spark,
        spark.createDataFrame(
            [(9, 0, 0, 0.0)], "worker int, seq int, i long, v double"
        ).coalesce(1),
        tbl,
    )
    procs = [
        subprocess.Popen(
            [
                sys.executable, "-c", APPEND_WORKER_V_SRC, REPO, tbl,
                "0", str(n_appends), str(rows_per), sync_dir,
            ],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        ),
        subprocess.Popen(
            [
                sys.executable, "-c", DML_WORKER_SRC, REPO, tbl,
                str(n_updates), sync_dir,
            ],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        ),
    ]
    deadline = time.time() + 180
    while time.time() < deadline and not (
        os.path.exists(os.path.join(sync_dir, "ready_app"))
        and os.path.exists(os.path.join(sync_dir, "ready_dml"))
    ):
        time.sleep(0.1)
    open(os.path.join(sync_dir, "go"), "w").close()
    for p in procs:
        out, err = p.communicate(timeout=300)
        assert p.returncode == 0, f"rc={p.returncode}\n{out}\n{err[-3000:]}"

    # the lost-update witness: counter == exactly n_updates
    seed = read_delta(spark, tbl).filter("worker = 9").collect()
    assert len(seed) == 1
    assert seed[0].v == float(n_updates), seed

    got = read_delta(spark, tbl).groupBy("worker", "seq").count().collect()
    per_batch = {(r.worker, r.seq): r["count"] for r in got}
    expect = {(0, s): rows_per for s in range(n_appends)}
    expect[(9, 0)] = 1
    assert per_batch == expect

    log = os.path.join(tbl, "_delta_log")
    versions = sorted(
        int(f[:20])
        for f in os.listdir(log)
        if f.endswith(".json") and f[:20].isdigit()
    )
    assert versions == list(range(len(versions))), versions
    # v0 create + 6 appends + 6 updates = 13 commits minimum (no
    # retries consume version numbers — a losing attempt re-links at
    # the NEXT version, it never burns one)
    assert len(versions) == 1 + n_appends + n_updates
