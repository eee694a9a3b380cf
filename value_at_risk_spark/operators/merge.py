"""MERGE / SCD2 emulation — upserts without Delta.

The reference persists via Delta `saveAsTable` overwrites only
(/root/reference/01_var_market_etl.py:56-64) but anticipates
incremental upserts (application.yaml:2-3). On plain parquet the
idiomatic emulation is anti-join + union (CDC upsert) and
close-out-and-append (SCD2), both pure shuffles on the merge key.

Scale: one hash shuffle of each side on the key; with bucketed tables
on the key both joins become shuffle-free. The rewrite is
partition-overwrite-friendly (write only partitions containing touched
keys when the table is partitioned by a stable key prefix).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def upsert(target: DataFrame, updates: DataFrame, keys: list[str]) -> DataFrame:
    """MERGE semantics: rows from `updates` win on key collision;
    unmatched target rows pass through (anti-join + union)."""
    survivors = target.join(updates.select(*keys), on=keys, how="left_anti")
    return survivors.unionByName(updates)


def scd2_apply(
    target: DataFrame,
    updates: DataFrame,
    keys: list[str],
    effective_col: str,
    end_col: str = "valid_to",
    current_col: str = "is_current",
    open_end: str = "9999-12-31",
) -> DataFrame:
    """Slowly-changing-dimension type 2: close out current versions of
    changed keys (valid_to = new effective date, is_current = false)
    and append the new versions as current.

    target schema: keys..., payload..., effective_col, end_col, current_col.
    updates schema: keys..., payload..., effective_col.
    """
    changed = updates.select(
        *keys, F.col(effective_col).alias("_new_eff")
    )
    closed = (
        target.join(F.broadcast(changed), on=keys, how="inner")
        .filter(F.col(current_col))
        .withColumn(end_col, F.col("_new_eff"))
        .withColumn(current_col, F.lit(False))
        .drop("_new_eff")
    )
    untouched = target.join(changed.select(*keys), on=keys, how="left_anti")
    still_current_hist = (
        target.join(changed.select(*keys), on=keys, how="left_semi")
        .filter(~F.col(current_col))
    )
    fresh = updates.withColumn(end_col, F.lit(open_end).cast("date")).withColumn(
        current_col, F.lit(True)
    )
    return untouched.unionByName(still_current_hist).unionByName(
        closed
    ).unionByName(fresh)


def _shared(df: DataFrame, readers: int) -> DataFrame:
    """``df`` materialized once with ``localCheckpoint`` when more than
    one reader consumes it in one MERGE attempt — the rule the MERGE
    source already follows. Each further reader of an unmaterialized
    frame re-scans the touched files and re-runs the joins, and a
    non-deterministic input could hand the readers different rows."""
    return df.localCheckpoint(eager=True) if readers > 1 else df


def _check_merge_clauses(
    name: str, clauses: list[dict], allowed: tuple[str, ...]
) -> None:
    for i, c in enumerate(clauses):
        acts = [a for a in ("update", "delete", "insert") if c.get(a)]
        if len(acts) != 1 or acts[0] not in allowed:
            raise ValueError(
                f"merge_into_delta_native: each {name} clause needs "
                f"exactly one of {allowed}, got {sorted(c)}"
            )
        if c.get("condition") is None and i != len(clauses) - 1:
            raise ValueError(
                f"merge_into_delta_native: only the LAST {name} clause "
                "may omit its condition (later clauses would be "
                "unreachable)"
            )


def _merge_with_clauses(
    target: DataFrame,
    deduped: DataFrame,
    keys: list[str],
    fields,
    matched: list[dict],
    not_matched: list[dict],
    by_source: list[dict],
    want_cdc: bool,
    defaults: dict[str, str] | None = None,
):
    """The general MERGE row engine: ONE full-outer join of target and
    (deduped) source on the keys, an action tag picked by the FIRST
    clause whose condition holds (Delta's clause-order rule), output
    columns as CASE over the tag, deletes/non-inserts filtered out.
    Clause conditions and update/insert expressions are SQL strings
    resolving ``t.<col>`` / ``s.<col>`` (nested SET targets are not
    supported here — assign the whole struct). Returns (merged_df,
    cdc_df | None). With ``want_cdc`` the merged rows and the cdc
    branches all read the one full-outer join, so it is materialized
    once (``_shared``). cdc rows carry MERGE semantics (update
    pre/post pairs, deletes, inserts; untouched rows absent)."""
    import uuid as _uuid

    from value_at_risk_spark.sources.deltalog import _set_cast_type

    tcols = [f.name for f in fields]
    # helper columns carry a per-call random suffix: a user column
    # literally named _t_p/_act/_pre_<col> must never be clobbered
    # or collide
    tok = _uuid.uuid4().hex[:6]
    t_p, s_p, act_col = f"_t_p_{tok}", f"_s_p_{tok}", f"_act_{tok}"
    pre_pfx = f"_pre{tok}_"

    def tq(c: str) -> str:
        return "t.`" + c.replace("`", "``") + "`"

    def sq(c: str) -> str:
        return "s.`" + c.replace("`", "``") + "`"

    j = (
        target.withColumn(t_p, F.lit(True))
        .alias("t")
        .join(
            deduped.withColumn(s_p, F.lit(True)).alias("s"),
            on=[F.col(tq(k)) == F.col(sq(k)) for k in keys],
            how="full_outer",
        )
    )
    is_m = F.col(f"t.{t_p}").isNotNull() & F.col(f"s.{s_p}").isNotNull()
    is_src = F.col(f"t.{t_p}").isNull()
    is_tgt = F.col(f"s.{s_p}").isNull()

    def _cond(c: dict):
        if c.get("condition") is None:
            return F.lit(True)
        return F.coalesce(F.expr(c["condition"]), F.lit(False))

    act = None
    del_tags: list[str] = []
    upd_specs: dict[str, dict] = {}
    ins_specs: dict[str, dict] = {}

    def _spec(spec, star_ok: bool, what: str) -> dict:
        if spec == "*":
            if not star_ok:
                raise ValueError(
                    f"merge_into_delta_native: {what} cannot use '*' "
                    "(no source row to copy from)"
                )
            return {c: F.col(sq(c)) for c in tcols}
        unknown = set(spec) - set(tcols)
        if unknown:
            raise ValueError(
                f"merge_into_delta_native: {what} on unknown/nested "
                f"column(s) {sorted(unknown)} (nested targets are not "
                "supported in MERGE — assign the whole struct)"
            )
        return {c: F.expr(e) for c, e in spec.items()}

    chain: list[tuple] = []
    for i, c in enumerate(matched):
        tag = f"u{i}" if c.get("update") else f"d{i}"
        if c.get("update"):
            upd_specs[tag] = _spec(c["update"], True, "matched UPDATE SET")
        else:
            del_tags.append(tag)
        chain.append((is_m & _cond(c), tag))
    for i, c in enumerate(not_matched):
        tag = f"i{i}"
        ins_specs[tag] = _spec(c["insert"], True, "NOT MATCHED INSERT")
        chain.append((is_src & _cond(c), tag))
    for i, c in enumerate(by_source):
        tag = f"bu{i}" if c.get("update") else f"bd{i}"
        if c.get("update"):
            upd_specs[tag] = _spec(
                c["update"], False, "NOT MATCHED BY SOURCE UPDATE SET"
            )
        else:
            del_tags.append(tag)
        chain.append((is_tgt & _cond(c), tag))
    # defaults: unmatched-by-any-clause matched/target rows KEEP,
    # source-only rows are NOT inserted
    for pred, tag in chain:
        act = F.when(pred, tag) if act is None else act.when(pred, tag)
    act = (
        (act.when(is_src, "noins") if act is not None else F.when(is_src, "noins"))
        .otherwise("keep")
    )

    out_cols = []
    for f in fields:
        c = f.name
        col = None
        for tag, spec in list(upd_specs.items()) + list(ins_specs.items()):
            if tag.startswith("i"):
                # allowColumnDefaults: an INSERT clause that omits a
                # defaulted column fills its CURRENT_DEFAULT, the same
                # contract as SQL INSERT (spec: a writer adding rows
                # without a value must write the default)
                if c in spec:
                    val = spec[c]
                elif defaults and c in defaults:
                    val = F.expr(defaults[c])
                else:
                    val = F.lit(None)
            else:
                val = spec.get(c, F.col(tq(c)))
            w = F.col(act_col) == tag
            col = F.when(w, val) if col is None else col.when(w, val)
        col = col.otherwise(F.col(tq(c))) if col is not None else F.col(tq(c))
        out_cols.append(col.cast(_set_cast_type(f)).alias(c))
    tagged = j.withColumn(act_col, act).select(
        act_col,
        *out_cols,
        *[F.col(tq(c)).alias(f"{pre_pfx}{c}") for c in tcols],
    )
    tagged = _shared(tagged, 1 + want_cdc)
    drop = set(del_tags) | {"noins"}
    merged = tagged.filter(~F.col(act_col).isin(*drop)).select(*[
        "`" + c.replace("`", "``") + "`" for c in tcols
    ])
    cdc = None
    if want_cdc:
        upd = F.col(act_col).startswith("u") | F.col(act_col).startswith("bu")
        pre_cols = [
            F.col("`" + f"{pre_pfx}{c}".replace("`", "``") + "`").alias(c)
            for c in tcols
        ]
        out_sel = ["`" + c.replace("`", "``") + "`" for c in tcols]
        pre = tagged.filter(upd).select(*pre_cols).withColumn(
            "_change_type", F.lit("update_preimage")
        )
        post = tagged.filter(upd).select(*out_sel).withColumn(
            "_change_type", F.lit("update_postimage")
        )
        dels = (
            tagged.filter(F.col(act_col).isin(*del_tags))
            .select(*pre_cols)
            .withColumn("_change_type", F.lit("delete"))
            if del_tags
            else None
        )
        ins = tagged.filter(F.col(act_col).startswith("i")).select(
            *out_sel
        ).withColumn("_change_type", F.lit("insert"))
        cdc = pre.unionByName(post).unionByName(ins)
        if dels is not None:
            cdc = cdc.unionByName(dels)
    return merged, cdc


def _merge_rows(
    target: DataFrame,
    deduped: DataFrame,
    keys: list[str],
    snap0,
    general: bool,
    m_cl: list[dict],
    nm_cl: list[dict],
    bs_cl: list[dict],
):
    """(merged rows, cdc rows | None) of one MERGE attempt over
    ``target`` — the whole table or the touched-file slice. The clause
    engine for ``general``, else the upsert-star anti-join + union;
    cdc rows only on a CDF table. On the upsert path with CDF, the
    merge and the cdc rows both read ``target``, so it is materialized
    once (``_shared``)."""
    from value_at_risk_spark.sources.deltalog import (
        cdf_enabled,
        table_default_columns,
    )

    want_cdc = cdf_enabled(snap0)
    if general:
        return _merge_with_clauses(
            target,
            deduped,
            keys,
            snap0.schema.fields,
            m_cl,
            nm_cl,
            bs_cl,
            want_cdc=want_cdc,
            defaults=table_default_columns(snap0),
        )
    target = _shared(target, 1 + want_cdc)
    merged = upsert(target, deduped, keys)
    if not want_cdc:
        return merged, None
    aligned = deduped.select(
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in snap0.schema.fields]
    )
    target_keys = target.select(*keys)
    pre = target.join(
        deduped.select(*keys), on=keys, how="left_semi"
    ).withColumn("_change_type", F.lit("update_preimage"))
    post = aligned.join(target_keys, on=keys, how="left_semi").withColumn(
        "_change_type", F.lit("update_postimage")
    )
    ins = aligned.join(target_keys, on=keys, how="left_anti").withColumn(
        "_change_type", F.lit("insert")
    )
    return merged, pre.unionByName(post).unionByName(ins)


def merge_into_delta_native(
    spark,
    target_path: str,
    updates: DataFrame,
    keys: list[str],
    *,
    matched: list[dict] | None = None,
    not_matched: list[dict] | None = None,
    not_matched_by_source: list[dict] | None = None,
    txn: dict | None = None,
) -> int:
    """MERGE against a NATIVE delta-log table (sources/deltalog.py),
    committed as one copy-on-write version, so readers flip atomically from
    pre-merge to post-merge state and time travel keeps the pre-merge
    snapshot. Returns the committed version — or -1 unwritten when
    ``txn`` ({appId, version}) identifies a batch the table has
    already committed (the streaming sink idempotence contract; the
    check rides inside the same atomic commit).

    FILE-LEVEL PRUNING (r17, guide §6 — delta-spark's MERGE edge,
    previously documented away): without by-source clauses, only
    files holding a source key can change, so a stats phase (source
    key range vs add.stats min/max) plus an exact column-pruned
    key-scan probe identify the touched files and ONLY those are
    removed+rewritten — every other add action survives verbatim. At
    100 TB a merge touching 0.1% of files rewrites 0.1% of the
    table. Falls back to the single-staged whole-set overwrite when
    pruning cannot pay or cannot be proven safe: by-source clauses,
    row tracking, generated/identity columns, single-file tables,
    and all-files-touched sources.

    Default (no clause arguments) is the upsert-star form — ``WHEN
    MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *`` — via
    the cheap anti-join + union plan. Passing any of ``matched`` /
    ``not_matched`` / ``not_matched_by_source`` selects the GENERAL
    clause engine (full Delta MERGE semantics): each is an ordered
    clause list, first-condition-wins, only the last clause of a list
    may omit its ``condition``; rows no clause claims KEEP (matched /
    by-source) or are NOT inserted (not-matched). Clause shapes::

        matched=[{"condition": "s.v > t.v", "update": {"v": "s.v"}},
                 {"delete": True}]
        not_matched=[{"insert": "*"}]          # or {"insert": {col: expr}}
        not_matched_by_source=[{"condition": "t.stale", "delete": True}]

    Conditions and expressions are SQL over ``t.<col>`` / ``s.<col>``.
    ``update``/``insert`` accept ``"*"`` (all columns from the
    source) or an explicit {column: expr} map (unassigned insert
    columns become NULL; unassigned update columns keep the target
    value). Source rows are deduped on the keys first (Delta raises
    on multiple source matches; dedup-first is this engine's
    documented contract).

    On a CDF table (``delta.enableChangeDataFeed``) the commit also
    records exact row-level changes as cdc actions — updated rows as
    update_preimage/update_postimage pairs, deleted rows as delete,
    inserted rows as insert; untouched rows absent — so table_changes
    readers see MERGE semantics, not the overwrite's
    remove-all/add-all derivation."""
    if not keys:
        raise ValueError("merge_into_delta_native: keys must be non-empty")
    missing = [k for k in keys if k not in updates.columns]
    if missing:
        raise ValueError(
            f"merge_into_delta_native: keys not in updates: {missing}"
        )
    from value_at_risk_spark.sources.deltalog import (
        DeltaConcurrentModification,
        _commit,
        _committed_txn,
        _file_hits,
        _mapping_planes,
        _maybe_auto_compact,
        _pruned_active,
        _stage_cdc,
        read_delta,
        row_tracking_enabled,
        table_generated_columns,
        table_identity_columns,
        write_delta,
    )

    general = (
        matched is not None
        or not_matched is not None
        or not_matched_by_source is not None
    )
    m_cl = list(matched or [])
    nm_cl = list(not_matched or [])
    bs_cl = list(not_matched_by_source or [])
    if general:
        _check_merge_clauses("matched", m_cl, ("update", "delete"))
        _check_merge_clauses("not_matched", nm_cl, ("insert",))
        _check_merge_clauses(
            "not_matched_by_source", bs_cl, ("update", "delete")
        )

    deduped = updates.dropDuplicates(keys)
    materialized = False

    # read-modify-write with a conditional commit: a concurrent append
    # landing between our read snapshot and the overwrite would be
    # silently erased by an unconditional rewrite (MERGE promises
    # key-level semantics, not last-writer-wins) — so each attempt is
    # pinned to its read version and re-reads + re-merges on conflict.
    # Returns (version, whether the pruned commit wants autoCompact).
    def attempt(snap0):
        nonlocal deduped, materialized
        # cheap txn short-circuit before planning the join; the
        # AUTHORITATIVE check re-runs inside write_delta's commit
        # attempt against a fresh snapshot
        if _committed_txn(snap0, txn):
            return -1, False
        read_v = snap0.version
        # every path below reads the source more than once (the stats
        # probe, the touched-file scan and the rewrite; the upsert's
        # anti-join and union; the clause engine's join and its cdc
        # branches): materialize it ONCE per MERGE, so a
        # non-deterministic source cannot hand them different rows
        # (duplicate keys, lost updates — why delta-spark materializes
        # MERGE sources too). Reused across this call's conflict
        # retries.
        if not materialized:
            deduped = deduped.localCheckpoint(eager=True)
            materialized = True
        # File-level pruning (r17, guide §6 — the delete/update DML
        # paths' edge applied to MERGE): without by-source clauses a
        # merge can only change target rows whose KEY appears in the
        # source, so files provably holding no source key keep their
        # add actions verbatim and only the touched files rewrite.
        # The touched set is found with ONE column-pruned scan of the
        # key columns semi-joined to the (deduped) source keys; a
        # source key absent from every touched file is absent from
        # the whole table, so not-matched detection against the
        # touched slice is exact. Falls back to the full
        # copy-on-write overwrite when by-source clauses (they touch
        # NON-matching rows), row tracking (survivor ids must be
        # preserved through write_delta's machinery), or generated /
        # identity columns (write_delta computes/validates them) are
        # in play.
        prunable = (
            not bs_cl
            and not row_tracking_enabled(snap0)
            and not table_generated_columns(snap0)
            and not table_identity_columns(snap0)
        )
        if prunable:
            io_snap, to_log, to_phys, _l2p = _mapping_planes(spark, snap0)
            candidates = _pruned_active(io_snap, None, None)
            # Two-phase touched-file identification, each phase only
            # run when the previous one could still pay:
            # 1. STATS phase — the source key range ([min,max] of the
            #    first merge key, one tiny agg job) against each
            #    add.stats min/max (driver-side, no scan). Sound:
            #    a file whose key range misses every source key can
            #    hold no match; incomparable/missing stats keep the
            #    file.
            # 2. EXACT phase — the column-pruned key scan + semi-join
            #    (_file_hits), run ONLY over the stats survivors and
            #    ONLY when stats excluded something (an
            #    all-files-overlap source spans the table's key
            #    range; the scan probe would almost surely confirm
            #    all-touched, and the overwrite path it falls back to
            #    stages exactly one write with no forced repartition).
            # Single-file tables skip both phases outright.
            touched = list(candidates)
            if len(candidates) > 1:
                k0 = keys[0]
                b = deduped.agg(
                    F.min(k0).alias("mn"), F.max(k0).alias("mx")
                ).first()
                if b.mn is None:
                    touched = []  # empty source: nothing can match
                else:
                    k_phys = (_l2p or {}).get(k0, k0)
                    stats_cands = _pruned_active(
                        io_snap,
                        None,
                        [(k_phys, ">=", b.mn), (k_phys, "<=", b.mx)],
                    )
                    if len(stats_cands) < len(candidates):
                        src_keys = deduped.select(*keys)
                        touched = sorted(
                            _file_hits(
                                spark,
                                target_path,
                                io_snap,
                                stats_cands,
                                lambda df, f: df.select(
                                    f.alias("_delta_file"), *keys
                                ).join(src_keys, on=keys, how="left_semi"),
                                to_log,
                            )
                        )
            if len(touched) < len(candidates):
                return _merge_pruned(
                    spark, target_path, snap0, deduped, keys,
                    general, m_cl, nm_cl, txn,
                    io_snap, to_log, to_phys, touched,
                )
        target = read_delta(spark, target_path, version=read_v)
        merged, cdc_df = _merge_rows(
            target, deduped, keys, snap0, general, m_cl, nm_cl, bs_cl
        )
        extra = None
        if cdc_df is not None:
            # cdc files carry PHYSICAL names on column-mapped tables,
            # like any data file (identity planes when unmapped)
            io_snap, _to_log, to_phys, _l2p = _mapping_planes(spark, snap0)
            extra = _stage_cdc(
                to_phys(cdc_df),
                target_path,
                io_snap.partition_columns,
            )
        try:
            # txn (appId, version): the idempotence check runs INSIDE
            # write_delta's commit loop against a fresh snapshot —
            # a re-delivered streaming batch returns -1 unwritten
            # (DeltaMergeSink's exactly-once contract). write_delta
            # validates the merged rows (materializing them once when
            # they are checked) and runs its own autoCompact hook.
            v = write_delta(
                spark,
                merged,
                target_path,
                mode="overwrite",
                expected_version=read_v,
                extra_actions=extra,
                txn=txn,
            )
        except DeltaConcurrentModification:
            return None  # the tip moved: re-read it and retry
        return v, False

    version, compact = _commit(target_path, "MERGE", attempt)
    if compact:
        _maybe_auto_compact(spark, target_path)
    return version


def _merge_pruned(
    spark,
    target_path: str,
    snap0,
    deduped: DataFrame,
    keys: list[str],
    general: bool,
    m_cl: list[dict],
    nm_cl: list[dict],
    txn: dict | None,
    io_snap,
    to_log,
    to_phys,
    touched: list[str],
):
    """One file-pruned MERGE attempt against ``snap0`` (guide §6 —
    the delete/update DML shape): rewrite ONLY the ``touched`` files
    (merged with the full source), keep every other add action
    verbatim, and return the commit — remove(touched)+add(rewritten),
    pinned to the read version by the commit loop, with the result
    (version, whether autoCompact should run). The caller identified
    ``touched`` with one column-pruned key scan and only enters here
    when it is a STRICT subset of the active files (all-touched merges
    stay on the single-staged overwrite path).

    Correctness of the slice: a source key absent from every touched
    file is absent from the whole table, so matched-clause evaluation
    and not-matched (insert) detection against the touched slice give
    exactly the whole-table answer. Requires no by-source clauses
    (those touch non-matching rows — the caller falls back).

    Write-time enforcement parity with the overwrite path, scoped to
    the REWRITTEN rows (untouched files were validated when written):
    the merged slice passes the one row-validation rule (NOT NULL and
    CHECK, materialized once when checked); append-only and
    writer-version refusals match write_delta. The touched slice or
    the clause join on a CDF table is materialized once per attempt
    (``_shared``), so each touched row is scanned once.
    """
    from value_at_risk_spark.sources.deltalog import (
        _checked,
        _Commit,
        _refuse_append_only,
        _refuse_high_writer_version,
        _removes,
        _scan_files_dv,
        _stage,
        _stage_cdc,
        _txn_action,
        _wants_auto_compact,
        read_delta,
        table_constraints,
    )

    read_v = snap0.version
    _refuse_high_writer_version(snap0, "MERGE")
    _refuse_append_only(snap0, "MERGE")
    if touched:
        target = to_log(_scan_files_dv(spark, target_path, io_snap, touched))
    else:
        # no file holds any source key: the target slice is empty and
        # the merge reduces to the not-matched (insert) clauses
        target = read_delta(spark, target_path, version=read_v).limit(0)
    merged, cdc_df = _merge_rows(
        target, deduped, keys, snap0, general, m_cl, nm_cl, []
    )
    # align to the table schema exactly (write_delta's overwrite cast
    # the frame the same way before staging)
    fields = snap0.schema.fields
    merged = _checked(
        merged.select(
            *[F.col(f.name).cast(f.dataType).alias(f.name) for f in fields]
        ),
        "merge_into_delta_native",
        not_null=[f.name for f in fields if not f.nullable],
        checks=table_constraints(snap0),
    )
    # bound the restage task count by the touched-file count (rewrite
    # granularity ≈ input granularity, the delete path's rule); a
    # pure-insert merge (no touched files) stages one
    adds = _stage(
        to_phys(merged).repartition(max(len(touched), 1)),
        target_path,
        io_snap.partition_columns,
        data_change=True,
    )
    actions = [_txn_action(txn)] if txn is not None else []
    actions += _removes(snap0, touched) + adds
    if cdc_df is not None:
        actions += _stage_cdc(
            to_phys(cdc_df),
            target_path,
            io_snap.partition_columns,
        )
    return _Commit(
        {"predicate": " AND ".join(f"t.`{k}` = s.`{k}`" for k in keys)},
        actions,
        result=(read_v + 1, bool(adds) and _wants_auto_compact(snap0)),
    )
