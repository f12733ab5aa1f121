"""Workload ``table_cdc``: writes beside reads on one file-list table,
then change-feed replication, closed loop, one client.

Set-up stages the source with ``fl_init`` (Z-ordered on the key, 16
files) three times; an untimed warm-up then commits to the first copy
and reads the second.
One pass applies a seeded stream of source commits (see
``gen.cdc_stream``) to a fresh copy: a merge over a key band of 0.1%,
an upsert of 5% across the tail (half updates, half inserts), one
empty micro-batch, a merge-on-read delete and one compaction, each
followed by two pruned merge-on-read reads with an aggregate, of the
band it touched and of a 1% band elsewhere; then ``replicate_changes``
copies the copy's whole history to a fresh replica. Passes repeat
until ``--seconds`` of pass time have elapsed; a copy that set-up did
not stage is staged between passes, outside the timed region.
Every micro-batch lands as a Parquet file first, as a landing-zone
batch would; the engine reads it inside the timed op.

Checks, for every pass: every read matches the pandas model of the
stream at that point, the source's final merge-on-read state matches
the model, the replica equals the source as a multiset of rows, and
``replicate_changes`` applied every source commit the stream makes.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor

import pandas as pd

from perfbench import gen
from perfbench.common import Ctx, dir_bytes, median, setup_reps
from perfbench.trace import dur

# Bounded by run time (see load_query.py): a pass is dominated by
# replicate_changes, ~3.5 s per replica step at this size, and at the
# 150,000 rows of sf0.1 orders one run takes ~88 s instead of ~65 s.
ROWS = 20_000
KEY = gen.CDC_KEY
OPS = {"merge": "table_format.fl_merge_upsert", "delete": "table_format.fl_delete",
       "compact": "table_format.fl_compact"}
# The first commits and reads of a process run up to three times slower
# than later ones while the JIT catches up, so the warm-up does both
# before the timed pass. Replication stays cold: warming it costs ~8 s
# of a run and saved less than that in the pass.
WARM_READS = 4


def _write_inputs(path: str, n: int, seed: int) -> dict:
    base, ops = gen.cdc_stream(n, seed)
    os.makedirs(path, exist_ok=True)
    base.to_parquet(os.path.join(path, "base.parquet"), index=False)
    for i, op in enumerate(ops):
        if op["kind"] == "merge":
            op["rows"].to_parquet(os.path.join(path, f"op{i}.parquet"), index=False)
        elif op["kind"] == "delete":
            pd.DataFrame({KEY: op["keys"]}).to_parquet(
                os.path.join(path, f"op{i}.parquet"), index=False
            )
    states = gen.cdc_model(base, ops)
    return {
        "ops": [
            {"name": op["name"], "kind": op["kind"],
             "rows": len(op.get("rows", op.get("keys", []))),
             "reads": [(lo, hi, *gen.read_expected(st, lo, hi)) for lo, hi in op["reads"]]}
            for op, st in zip(ops, states)
        ],
        "final_rows": len(states[-1]),
        "final_digest": gen.frame_digest(states[-1].reset_index(drop=True)),
    }


def _read_agg(spark, root: str, lo: int, hi: int) -> tuple[int, float, int, int]:
    from pyspark.sql import functions as F

    from citybikedatawarehouse_spark.operators import table_format as tf

    df, n_read, n_total = tf.fl_read_pruned_mor(spark, root, {KEY: (lo, hi)})
    row = df.where(F.col(KEY).between(lo, hi)).agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("s")
    ).collect()[0]
    return int(row["n"]), float(row["s"] or 0.0), n_read, n_total


def _read(ctx: Ctx, root: str, lo: int, hi: int) -> tuple[int, float, int, int]:
    with ctx.tracer.span("table_format.fl_read_pruned"):
        return _read_agg(ctx.spark, root, lo, hi)


def _init(ctx: Ctx, root: str, df) -> None:
    from citybikedatawarehouse_spark.operators import table_format as tf

    with ctx.tracer.span("table_format.fl_init"):
        tf.fl_init(ctx.spark, root, df, key=KEY, zorder_by=(KEY,), layout_files=16)


def _apply(ctx: Ctx, root: str, kind: str, df) -> dict:
    from citybikedatawarehouse_spark.operators import table_format as tf

    with ctx.tracer.span(OPS[kind]):
        if kind == "merge":
            _, _, rewritten, total = tf.fl_merge_upsert(ctx.spark, root, df, key=KEY)
            return {"files_rewritten": rewritten, "files_total": total}
        if kind == "delete":
            tf.fl_delete(ctx.spark, root, df)
        else:
            tf.fl_compact(ctx.spark, root)
    return {}


def run(ctx: Ctx) -> dict:
    from citybikedatawarehouse_spark.operators import table_format as tf
    from citybikedatawarehouse_spark.streaming.changes_feed import replicate_changes

    n = 3_000 if ctx.smoke else ROWS
    inp, exp = gen.cached(
        ctx.work, "cdc", ctx.seed, n, lambda p: _write_inputs(p, n, ctx.seed)
    )
    tr = ctx.tracer
    staged = []

    def stage(rep: int) -> None:
        staged.append(os.path.join(ctx.run_dir, f"src{rep}"))
        _init(ctx, staged[-1], ctx.spark.read.parquet(f"{inp}/base.parquet"))

    setup = setup_reps(ctx, stage)
    spark = ctx.spark
    batches = [
        spark.read.parquet(f"{inp}/op{i}.parquet") if op["kind"] != "compact" else None
        for i, op in enumerate(exp["ops"])
    ]
    # untimed warm-up: commits to the first set-up's copy, and beside
    # them, on a second thread, reads of the second copy (reads never
    # change a table, so that copy can still serve a pass)
    t_warm = time.perf_counter()
    warm = staged.pop(0)
    first = {}
    for op, batch in zip(exp["ops"], batches):
        if op["kind"] != "compact" and op["rows"]:
            first.setdefault(op["kind"], batch)
    with ThreadPoolExecutor(max_workers=1) as ex:
        reads_done = ex.submit(lambda: [
            _read_agg(spark, staged[0], lo, lo + n // 20)
            for lo in range(0, n - n // 20, n // WARM_READS)
        ])
        tf.fl_delete(spark, warm, first["delete"].limit(3))
        tf.fl_merge_upsert(spark, warm, first["merge"], key=KEY)
        reads_done.result()
    warm_s = time.perf_counter() - t_warm

    # every op but the empty micro-batch is one source commit; the
    # replica also applies the initial snapshot
    source_commits = sum(1 for op in exp["ops"] if op["kind"] == "compact" or op["rows"])
    failures, failed = [], 0
    commits, reads, read_checks, merge_stats, rep_s = [], [], [], [], []
    passes, stream_s, srcs = [], [], []
    while not passes or sum(passes) < ctx.seconds:
        p = len(passes)
        src = staged.pop() if staged else os.path.join(ctx.run_dir, f"src_pass{p}")
        if not os.path.exists(src):  # outside the timed region
            _init(ctx, src, spark.read.parquet(f"{inp}/base.parquet"))
        bytes_before = dir_bytes(os.path.join(src, "data"))
        t0 = time.perf_counter()
        commit_s = 0.0
        for i, op in enumerate(exp["ops"]):
            try:
                with tr.span("op.commit", pass_no=p, step=op["name"]) as sp:
                    stats = _apply(ctx, src, op["kind"], batches[i])
                commits.append(dur(sp))
                commit_s += dur(sp)
                if stats:
                    merge_stats.append(stats)
                for lo, hi, *want in op["reads"]:
                    with tr.span("op.read", pass_no=p, step=op["name"]) as sp:
                        got = _read(ctx, src, lo, hi)
                    reads.append(dur(sp))
                    read_checks.append((p, op["name"], want, got))
            except Exception as e:
                failed += 1
                failures.append(f"pass {p} {op['name']}: {e!r}"[:500])
        dst = os.path.join(ctx.run_dir, f"replica{p}")
        try:
            with tr.span("op.replicate", pass_no=p) as sp:
                with tr.span("changes_feed.replicate_changes"):
                    applied = replicate_changes(
                        spark, src, dst, checkpoint_dir=os.path.join(ctx.run_dir, f"ckpt{p}")
                    )
            rep_s.append(dur(sp))
        except Exception as e:
            applied = 0
            failed += 1
            failures.append(f"pass {p} replicate: {e!r}"[:500])
        passes.append(time.perf_counter() - t0)
        stream_s.append(commit_s)
        srcs.append((src, dst, applied, dir_bytes(os.path.join(src, "data")) - bytes_before))
    region_s = sum(passes)

    # checks, outside the timed region
    t_check = time.perf_counter()
    n_read = n_total = 0
    for p, step, (want_n, want_s), (cnt, s, nr, nt) in read_checks:
        if cnt != want_n or abs(s - want_s) > 0.015:
            failed += 1
            failures.append(f"pass {p} read after {step}: {(cnt, s)} vs model {(want_n, want_s)}")
        n_read, n_total = n_read + nr, n_total + nt
    for p, (src, dst, applied, _) in enumerate(srcs):
        state = tf.fl_read_mor(spark, src).toPandas()
        digest = gen.frame_digest(state)
        if len(state) != exp["final_rows"] or digest != exp["final_digest"]:
            failed += 1
            failures.append(f"pass {p} source state: {len(state)} rows, differs from the model")
        if applied < 1 + source_commits:
            failed += 1
            failures.append(
                f"pass {p} replicate_changes applied {applied} of {1 + source_commits} commits"
            )
        try:
            # equal digests of the sorted rows = an empty signed-count diff
            replica = tf.fl_read_mor(spark, dst).toPandas()
            if gen.frame_digest(replica) != digest:
                failed += 1
                failures.append(f"pass {p} replica ({len(replica)} rows) differs from the source")
        except Exception as e:
            failed += 1
            failures.append(f"pass {p} replica unreadable: {e!r}"[:500])
    src, dst, _, bytes_added = srcs[0]
    replica_commits = len(tf.fl_versions(dst)) - 1 if os.path.exists(dst) else 0
    check_s = time.perf_counter() - t_check

    n_changed = sum(op["rows"] for op in exp["ops"])
    e2e = {
        "setup_s": median(setup),
        "wall_s": median(passes),
        "op_p50_s": median(commits + reads),
        "rows_per_s": n_changed / median(stream_s),
        "read_p50_s": median(reads),
        "bytes_written_per_row": bytes_added / n_changed,
    }
    layers = {}
    if ctx.trace:
        tr.resolve()
        of = lambda name: [dur(s) for s in tr.named(name)]  # noqa: E731
        first = [s for s in tr.named("op.commit") if s["attrs"]["pass_no"] == 0]
        rep_span = [s for s in tr.named("op.replicate") if s["attrs"]["pass_no"] == 0]
        live = tf.fl_manifest(src)["path"].map(os.path.getsize).sum()
        layers = {
            "table_format.fl_init_s": median(of("table_format.fl_init")),
            "table_format.fl_merge_upsert_s": median(of("table_format.fl_merge_upsert")),
            "table_format.fl_delete_s": median(of("table_format.fl_delete")),
            "table_format.fl_compact_s": median(of("table_format.fl_compact")),
            "table_format.fl_read_pruned_s": median(reads),
            "table_format.jobs_per_commit": sum(tr.total(s, "jobs") for s in first)
            / max(1, len(first)),
            "table_format.files_rewritten_ratio": sum(m["files_rewritten"] for m in merge_stats)
            / max(1, sum(m["files_total"] for m in merge_stats)),
            "table_format.files_read_ratio": n_read / max(1, n_total),
            "table_format.bytes_on_disk_per_live_byte": dir_bytes(os.path.join(src, "data"))
            / max(1, live),
            "changes_feed.replicate_changes_s": median(rep_s),
            "changes_feed.replicate_s_per_commit": median(rep_s) / source_commits,
            "changes_feed.jobs_per_source_commit": (
                tr.total(rep_span[0], "jobs") / source_commits if rep_span else 0
            ),
            "changes_feed.replica_commits_per_source_commit": replica_commits / source_commits,
        }
    ctx.detail.update(
        rows=n, region_s=region_s, check_s=check_s, setup_reps_s=setup, warm_s=warm_s,
        pass_s=passes, stream_s=stream_s, commit_s=commits, read_s=reads, replicate_s=rep_s,
        source_commits=source_commits, applied=[a for _, _, a, _ in srcs],
        replica_commits=replica_commits, steps=[op["name"] for op in exp["ops"]],
    )
    return {
        # per pass: commits, reads, the replication; then the checks of
        # every read, the source state, the applied count and the replica
        "attempted": len(passes) * (len(exp["ops"]) + 1 + 3) + len(reads) + len(read_checks),
        "failed": failed,
        "failures": failures,
        "e2e": e2e,
        "layers": layers,
        "region_s": region_s,
        "n_passes": len(passes),
    }
