"""CLI — the spark-submit-able counterpart of the reference's
``python -m log2seq`` (``/root/reference/log2seq/__main__.py``).

Reads raw log lines (stdin, or plain/gz/bz2/xz/tar files through one
reader, ``_read_raw_lines``) or a turns parquet/Iceberg table, parses
with a preset or a user parser script (a python module exporting a
module-global ``program: RuleProgram`` — the Spark-first analog of the
reference's ``parser`` convention, ``_common.py:11``; ship it with
``spark-submit --py-files``), and writes results or prints a sample.
Exit codes mirror the reference (``__main__.py:89-148``): 0 when at
least one line parses (partial failures still exit 0 — they are
reported on stderr), 1 when nothing parses, 2 on a startup error.

Examples:
    python -m log2seq_spark parse --input logs/*.gz --format words
    python -m log2seq_spark pipeline --input turns_parquet --out out/
    python -m log2seq_spark generate --out turns_parquet --convs 10000
"""

from __future__ import annotations

import argparse
import codecs
import contextlib
import glob as _glob
import importlib.util
import json
import os
import sys
from pathlib import Path

from pyspark.sql import functions as F


def _cli_spark(app_name: str, log_level: str = "ERROR"):
    """Session for one CLI command: ``(spark, owns)`` where ``owns`` is
    False when an active session pre-existed (in-process harness,
    notebook) — the command must then leave it running on exit."""
    from pyspark.sql import SparkSession
    from .session import get_spark
    pre_existing = SparkSession.getActiveSession() is not None
    spark = get_spark(app_name=app_name)
    spark.sparkContext.setLogLevel(log_level)
    return spark, not pre_existing


@contextlib.contextmanager
def _cli_session(app_name: str, log_level: str = "ERROR"):
    """The one session lifecycle of a CLI command: ``with
    _cli_session(name) as spark:``. A session the command started is
    stopped however the block ends (return, early exit code or
    exception); a pre-existing one is left running."""
    spark, owns = _cli_spark(app_name, log_level)
    try:
        yield spark
    finally:
        if owns:
            spark.stop()


def _read_input(spark, kind: str, *paths):
    """A parquet path, or for ``kind == "table"`` a catalog table name —
    an Iceberg (or any V2) table when a catalog is configured, a view
    otherwise."""
    return (spark.table(paths[0]) if kind == "table"
            else spark.read.parquet(*paths))


def load_program_script(path: str):
    spec = importlib.util.spec_from_file_location("user_parser_script",
                                                  os.path.abspath(path))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return getattr(mod, "program")


def _load_program(args):
    """The parse program the flags select, or None after printing
    ``cannot load …`` to stderr (the caller exits 2: a startup error,
    reference __main__.py:89-148)."""
    try:
        if args.parser_script:
            return load_program_script(args.parser_script)
        if getattr(args, "grok", None):
            # grok front-end: one rule per --grok, cascaded
            # first-match-wins; year_from_ts so year-less timestamps
            # (%{SYSLOGTIMESTAMP:...}) ride the same --year /
            # wall-clock-year plumbing as the presets
            from .rules.grok import grok_program
            return grok_program(args.grok, year_from_ts=True)
        from .rules import presets
        named = {"default": presets.default_program,
                 "apache": presets.apache_errorlog_program,
                 "hdfs": presets.hdfs_program,
                 "hpc": presets.hpc_program,
                 "spark": presets.spark_log_program,
                 "bgl": presets.bgl_program,
                 "windows": presets.windows_program,
                 "linux": presets.linux_program,
                 "proxifier": presets.proxifier_program,
                 "android": presets.android_program,
                 "hadoop": presets.hadoop_program,
                 "healthapp": presets.healthapp_program,
                 "mac": presets.mac_program,
                 "openstack": presets.openstack_program,
                 "thunderbird": presets.thunderbird_program,
                 "zookeeper": presets.zookeeper_program}
        return named[args.preset]()
    except Exception as e:
        what = (f"parser script {args.parser_script}"
                if args.parser_script else
                "grok expression" if getattr(args, "grok", None)
                else f"preset {args.preset}")
        print(f"cannot load {what}: {e}", file=sys.stderr)
        return None


def _read_raw_lines(spark, files, encoding: str = "utf-8"):
    """The CLI's one raw-log reader: the lines of ``files`` (stdin when
    none) as ``_ord struct<_src, _pos>, text``. Sorting by ``_ord``
    gives input order (argument order, then archive order, then line
    order); ``_src`` tells the lines of one file or archive member from
    the next. The reader follows from the input:

    * tar-family archives, ``.xz`` files and any non-UTF-8 ``encoding``
      go to the ``logtext`` source (``sources/logfiles.py``): one
      executor-side read per file and per archive member, nothing
      materialised on the driver. It plans its partitions in argument
      order, then archive order, so ``_src`` is the partition id taken
      right after the scan, and ``_pos`` the line number.
    * everything else goes to ``spark.read.text``, which splits plain and
      bz2 files and takes directories, globs and any Hadoop path (it has
      no XZ codec: an ``.xz`` file would come back as raw compressed
      bytes). It lists splits in its own order, so ``_src`` leads with
      the argument position and then the file, and ``_pos`` is the row
      id, increasing through each file.
    * stdin is read on the driver, the one raw input that is."""
    from .sources import logfiles
    if not files:
        from .session import _local_frame
        rows = [(i, line.rstrip("\r\n")) for i, line in enumerate(sys.stdin)]
        df = _local_frame(spark, rows, "_pos long, text string")
        src, pos, text = F.lit(0), F.col("_pos"), F.col("text")
    elif (codecs.lookup(encoding).name != "utf-8"
          or any(fp.endswith(logfiles._TAR_SUFFIXES + (".xz",))
                 for fp in files)):
        logfiles.register(spark)
        df = (spark.read.format("logtext")
              .option("paths", json.dumps(files))
              .option("encoding", encoding).load())
        src, pos, text = (F.spark_partition_id(), F.col("line_no"),
                          F.col("text"))
    else:
        # input_file_name() yields a file: URI
        uris = [Path(os.path.abspath(p)).as_uri() for p in files]
        df = spark.read.text(files)
        src = F.struct(
            F.array_position(F.array(*[F.lit(u) for u in uris]),
                             F.input_file_name()).alias("arg"),
            F.input_file_name().alias("file"))
        pos, text = F.monotonically_increasing_id(), F.col("value")
    return df.select(F.struct(src.alias("_src"), pos.alias("_pos"))
                     .alias("_ord"), text.alias("text"))


def _assemble_records(df, start: str, sep: str):
    """Logstash-multiline-codec pre-pass over an ``_ord, text`` frame:
    collapse continuation lines into the record opened by their start
    line (``start``, rlike semantics), joined by ``sep``. Records are
    assembled per ``_ord._src``, so one never crosses a file or archive
    member boundary; each keeps its start line's ``_ord``."""
    from .operators.multiline import assemble_multiline
    rec = assemble_multiline(
        df.select(F.col("_ord._src").alias("_src"), "_ord", "text"),
        start, group_cols=("_src",), order_col="_ord", sep=sep)
    return rec.select("_ord", "text")


def cmd_parse(args) -> int:
    """Reference-parity parse: successes → stdout (or --output), failures
    + summary → stderr; exit 0 when ≥1 line parses, 1 when nothing
    parses, 2 on a startup error (reference __main__.py:89-148)."""
    # -- startup validation (exit 2) before any Spark work
    program = _load_program(args)
    if program is None:
        return 2
    try:
        codecs.lookup(args.encoding)
    except LookupError:
        print(f"cannot read input: unknown encoding {args.encoding}",
              file=sys.stderr)
        return 2
    files = list(args.files)
    if args.input:
        files.append(args.input)
    if args.input_kind == "text":
        # expand globs ONCE, driver-side: the argument order of the
        # expanded files is the output order, and a pattern matching
        # nothing is a validated exit 2 (has_magic covers ?/[] too)
        expanded = []
        for fp in files:
            if _glob.has_magic(fp):
                hits = sorted(_glob.glob(fp))
                if not hits:
                    print(f"cannot read input: {fp}", file=sys.stderr)
                    return 2
                expanded.extend(hits)
            else:
                expanded.append(fp)
        files = expanded
        for fp in files:
            if not os.path.exists(fp):
                print(f"cannot read input: {fp}", file=sys.stderr)
                return 2
    elif not files:
        print("no input given: --input or a positional path is required "
              f"for --input-kind {args.input_kind}", file=sys.stderr)
        return 2

    with _cli_session("log2seq-spark-cli") as spark:
        return _run_parse(spark, args, program, files)


def _run_parse(spark, args, program, files) -> int:
    """:func:`cmd_parse` once its startup checks passed."""
    from .functions.udf import with_parsed, with_tokens
    ts_col = None
    if args.input_kind == "text":
        df = _read_raw_lines(spark, files, args.encoding)
    else:
        df = _read_input(spark, args.input_kind, *files)
        ts_col = "ts" if "ts" in df.columns else None
        df = df.withColumn("_ord", F.struct(
            F.lit(0).alias("_src"),
            F.monotonically_increasing_id().alias("_pos")))

    if args.multiline_start:
        # a stack-trace body rides inside its record instead of failing
        # as N separate lines. Default join is a single SPACE:
        # continuation lines are whitespace-led, and the header
        # cascade's statement field does not cross newlines — callers
        # who want raw "\n" reconstruction use the operator API directly
        df = _assemble_records(df, args.multiline_start, args.multiline_sep)

    # --verbose: reference-parity per-line rule trace (reference
    # _common.py:85-116 / statement.py:44-54 print the trace from inside
    # the parse loop). The vectorized result stays authoritative; the
    # trace is produced by re-running the per-line ORACLE engine on each
    # REPORTED line (the engine's verbose prints are byte-format-matched
    # to the reference's) and routed to stderr so stdout stays pipeable —
    # the reference's own --help documents stderr even though its
    # implementation uses bare print().
    tracer = None
    if getattr(args, "verbose", False):
        import io

        def tracer(line: str) -> None:
            from .rules.engine import (LineEngine, compile_actions,
                                       tokenize_statement)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                try:
                    if args.statement:
                        tokenize_statement(
                            compile_actions(program.actions), line,
                            verbose=True)
                    else:
                        yr = args.year
                        if yr is None and ts_col is None:
                            import datetime as _dt
                            yr = _dt.datetime.now().year
                        LineEngine(program, default_year=yr) \
                            .parse_line(line, verbose=True)
                except Exception:
                    pass  # the vectorized path already reported it
            sys.stderr.write(buf.getvalue())

    parsed = None
    try:
        nonempty = F.col("text") != ""
        if args.statement:
            stmts = df.filter(nonempty).select("_ord", "text")
            # counted before the mapper: Spark cannot prune a mapInArrow
            # node, so counting its output would tokenize the input twice
            n_ok = stmts.count()
            out = (with_tokens(stmts, program.actions, "text", "_tok")
                   .select("_ord", "text", F.col("_tok.words").alias("words"),
                           F.col("_tok.symbols").alias("symbols")))
            n_fail = 0
            fail_rows = []
            if args.format == "words":
                fmt = lambda r: " ".join(r["words"])
            else:
                fmt = lambda r: str((list(r["words"]), list(r["symbols"])))
            ok_rows = out.orderBy("_ord")
        else:
            default_year = args.year
            if default_year is None and ts_col is None:
                import datetime
                default_year = datetime.datetime.now().year
            # persist: the counts aggregate, the failures collect, and the
            # success output each re-execute the plan, and the Arrow parse
            # UDF is the dominant cost — without this the full input is
            # parsed up to three times (the _write_with_tally discipline)
            parsed = with_parsed(df.filter(nonempty), program, text_col="text",
                                 ts_col=ts_col, default_year=default_year) \
                .persist()
            ok = F.col("parsed.message").isNotNull()
            is_empty = F.col("parsed.rule_id") == -2
            counts = parsed.agg(
                F.sum(ok.cast("long")).alias("n_ok"),
                F.sum((~ok & ~is_empty).cast("long")).alias("n_fail")).first()
            n_ok = counts["n_ok"] or 0
            n_fail = counts["n_fail"] or 0
            failures = parsed.filter(~ok & ~is_empty).orderBy("_ord")
            if args.max_failures > 0:
                failures = failures.limit(args.max_failures)
            fail_rows = [r["text"] for r in failures.select("_ord", "text")
                         .collect()] if n_fail else []
            if args.format == "words":
                fmt = lambda r: " ".join(r["parsed"]["words"])
            else:
                fmt = lambda r: str({k: r["parsed"][k]
                                     for k in r["parsed"].__fields__
                                     if r["parsed"][k] is not None})
            ok_rows = parsed.filter(ok).orderBy("_ord")

        # failures + progress to stderr (reference: parse failed: {line!r})
        for line in fail_rows:
            if tracer:
                tracer(line)
            print(f"parse failed: {line!r}", file=sys.stderr)
        if 0 < args.max_failures < n_fail:
            print("... (further failures suppressed; "
                  "use --max-failures 0 to show all)", file=sys.stderr)

        # successes to stdout / --output (streamed — no full collect)
        wrote_parquet = False
        if args.output and args.output.endswith(".parquet"):
            if args.statement:
                sel = ok_rows.drop("_ord")
            else:
                # collision-safe flatten: a turns table already carries ts
                # (and could carry host/...), and a bare select("*",
                # "parsed.*") would emit duplicate column names that the
                # parquet writer rejects — colliding parsed fields get a
                # parsed_ prefix
                base = [c for c in ok_rows.columns
                        if c not in ("parsed", "_ord")]
                flat = [F.col(f"parsed.{c}").alias(
                            f"parsed_{c}" if c in base else c)
                        for c in ok_rows.select("parsed.*").columns]
                sel = ok_rows.select(*base, *flat)
            sel.write.mode("overwrite").parquet(args.output)
            wrote_parquet = True
        if not args.failures_only and not wrote_parquet:
            f_out = (open(args.output, "w", encoding=args.encoding)
                     if args.output else sys.stdout)
            try:
                it = ok_rows.toLocalIterator()
                for i, row in enumerate(it):
                    if args.sample is not None and i >= args.sample:
                        break
                    if tracer:
                        tracer(row["text"])
                    if args.show_input:
                        print(row["text"], file=f_out)
                    print(fmt(row), file=f_out)
            finally:
                if args.output:
                    f_out.close()

        print(f"# processed {n_ok + n_fail} lines: {n_ok} ok, {n_fail} failed",
              file=sys.stderr)
        return 0 if n_ok > 0 else 1
    finally:
        if parsed is not None:
            parsed.unpersist()


def cmd_pipeline(args) -> int:
    from .plans.pipeline import PipelineConfig, run_pipeline
    program = _load_program(args)
    if program is None:
        return 2
    with _cli_session("log2seq-spark-pipeline", log_level="WARN") as spark:
        turns = _read_input(spark, args.input_kind, args.input)
        cfg = PipelineConfig(out_dir=args.out, n_buckets=args.buckets,
                             program=program, input_id=args.input,
                             tokens_heavy_k=args.tokens_heavy_k)
        res = run_pipeline(spark, turns, cfg, resume=not args.no_resume)
    print(f"lineage={res.lineage_id} processed={res.buckets_processed} "
          f"skipped={res.buckets_skipped} metrics={res.metrics}",
          file=sys.stderr)
    return 0


def cmd_generate(args) -> int:
    from .sources.transcripts import write_transcripts
    with _cli_session("log2seq-spark-generate") as spark:
        write_transcripts(spark, args.out, args.convs, seed=args.seed)
    return 0


def _write_with_tally(df, out_path: str, tally_col: str, *, only=None,
                      null_label: str = "None") -> None:
    """Shared sink discipline for the corpus subcommands: write ``df``
    to parquet (optionally only the rows matching ``only``) and print a
    per-``tally_col`` row-count tally to stderr. The tally always
    covers the FULL frame — under a kept-only write the dropped rows
    never reach the sink, and tallying the written table would silently
    lose the per-reason counts the command exists to report; persist so
    write + tally share one computation."""
    df = df.persist()
    try:
        to_write = df.filter(only) if only is not None else df
        to_write.write.mode("overwrite").parquet(out_path)
        tally = df.groupBy(tally_col).count().collect()
    finally:
        df.unpersist()
    for r in sorted(tally, key=lambda r: str(r[tally_col])):
        label = r[tally_col] if r[tally_col] is not None else null_label
        print(f"# {label}: {r['count']}", file=sys.stderr)


def cmd_clean(args) -> int:
    """Corpus-cleaning recipe over a documents parquet table: writes the
    per-doc verdicts (doc_id, clean_text, kept, drop_reason) and prints
    the drop-reason tally to stderr."""
    from .operators.corpus import clean_corpus
    with _cli_session("log2seq-spark-clean") as spark:
        # normalize ingest parallelism: a documents table arriving as few
        # parquet files would serialize the CPU-bound scrub/quality
        # regexes on as few cores (measured 37s -> 12s at sf0.1 on
        # local[32]); the raw-text shuffle is cheap next to the per-char
        # regex work
        docs = (spark.read.parquet(args.input)
                .repartition(spark.sparkContext.defaultParallelism))
        out = clean_corpus(
            docs, text_col=args.text_col, id_col=args.id_col,
            do_normalize=args.normalize,
            do_scrub=not args.no_scrub,
            do_line_dedup=not args.no_line_dedup,
            quality_min=None if args.quality_min < 0 else args.quality_min)
        _write_with_tally(out, args.out, "drop_reason",
                          only="kept" if args.kept_only else None,
                          null_label="kept")
    return 0


def _read_lines(spark, path: str, kind: str, text_col: str,
                multiline_start=None, multiline_sep=" "):
    """Shared line-table reader for the template-family subcommands: a
    parquet path, a catalog table, or raw log lines through
    :func:`_read_raw_lines` — optionally assembled into records first,
    so a stack trace mines as ONE template instead of one per frame
    line."""
    if kind != "text":
        return _read_input(spark, kind, path)
    lines = _read_raw_lines(spark, [path])
    if multiline_start:
        lines = _assemble_records(lines, multiline_start, multiline_sep)
    return lines.select(F.col("text").alias(text_col))


def _template_state_fold(spark, lines, state_dir: str, text_col: str,
                         tokens_col, write: bool):
    """Shared epoch-state access for the template-state consumers
    (``templates --state-dir``, ``rare --state-dir``): validate the
    tokenization stamp, read the newest committed profile, fold this
    corpus in, and (when ``write``) commit the merge as the next epoch
    (``plans/epochs.py`` protocol — both commands interoperate on the
    same directory).

    Returns ``(prior, merged, epoch)``: the pre-batch profile, the
    history-∪-batch profile (the committed parquet read back when
    written, so downstream plans scan the state instead of recomputing
    the merge), and the committed epoch id (None when ``write`` is
    False). Raises ``ValueError`` on a tokenization-stamp mismatch."""
    from .operators.templates import merge_profiles, position_profiles
    from .plans import epochs as ep
    params = {"tokens_col": tokens_col,
              "text_col": (text_col if tokens_col is None else None)}
    ep.check_params(state_dir, params, spark=spark)
    committed = ep.committed_ids(state_dir, spark=spark)
    epoch = (committed[-1] + 1) if committed else 0
    prior = (spark.read.parquet(f"{state_dir}/epoch={committed[-1]}")
             if committed else spark.createDataFrame([], ep.PROFILE_SCHEMA))
    merged = merge_profiles(
        prior, position_profiles(lines, text_col, tokens_col=tokens_col))
    if not write:
        return prior, merged, None
    epoch_path = f"{state_dir}/epoch={epoch}"
    merged.write.mode("overwrite").parquet(epoch_path)
    ep.prune(state_dir, epoch, keep_epochs=3, spark=spark)
    return prior, spark.read.parquet(epoch_path), epoch


def cmd_templates(args) -> int:
    """Batch template mining (``operators/templates.py`` — the amulog
    hand-off the reference preprocesses for): mine over raw log lines,
    a parquet/table text column, or a pre-tokenized ``array<string>``
    column; prints ``n_lines<TAB>n_groups<TAB>template`` sorted by
    count to stdout."""
    from .operators.templates import mine_templates
    if getattr(args, "multiline_start", None) and args.input_kind != "text":
        print("--multiline-start needs raw text input (--input-kind text):"
              " table rows carry no per-file line order to assemble by",
              file=sys.stderr)
        return 2
    with _cli_session("log2seq-spark-templates") as spark:
        lines = _read_lines(spark, args.input, args.input_kind,
                            args.text_col,
                            getattr(args, "multiline_start", None),
                            args.multiline_sep)
        if getattr(args, "state_dir", None):
            # incremental mining: fold THIS corpus's position profile
            # into the epoch-versioned state (plans/epochs.py protocol —
            # one format for this command and `rare --state-dir`).
            # Printed templates cover everything mined into the state so
            # far; per-shard cost is one profile aggregate over the shard
            # plus a merge against the (groups-bounded) state.
            from .operators.templates import templates_from_profiles
            try:
                _, merged, epoch = _template_state_fold(
                    spark, lines, args.state_dir, args.text_col,
                    args.tokens_col, write=True)
            except ValueError as exc:   # incompatible tokenization stamp
                print(f"templates: {exc}", file=sys.stderr)
                return 2
            out = templates_from_profiles(merged, min_count=args.min_count)
            print(f"# state: epoch={epoch}", file=sys.stderr)
        else:
            out = mine_templates(lines, args.text_col,
                                 min_count=args.min_count,
                                 tokens_col=args.tokens_col)
        rows = (out.orderBy(F.desc("n_lines"), "template")
                   .limit(args.top).collect())
    for r in rows:
        print(f"{r['n_lines']}\t{r['n_groups']}\t{r['template']}")
    return 0


def _open_index(spark, args, params):
    """The ``plans/epochs.py`` shard protocol's checks for ``--input``
    against ``--index-dir`` (params stamp, then shard claim): the
    :class:`~.plans.epochs.IndexShard`, or None after printing the
    refusal."""
    from .plans.epochs import IndexShard
    try:
        return IndexShard(args.index_dir, args.input, params, spark=spark)
    except ValueError as exc:
        print(f"error: {exc}", file=sys.stderr)
        return None


def _publish_shard(ix, delta, unit: str, compact_every: int,
                   fold=lambda df: df):
    """Publish and compact after the shard's output is written, or skip
    both on a replay. Returns the compaction's (base path, base rows),
    else None."""
    if ix.replay is not None:
        print(f"# index: delta for this input already committed "
              f"({ix.replay}); skipping publish", file=sys.stderr)
        return None
    n_new, compacted = ix.commit(delta, compact_every, fold)
    print(f"# index: delta gen={ix.gen} (+{n_new} {unit}, "
          f"{len(ix.segments) + 1} segments)", file=sys.stderr)
    if compacted is not None:
        print(f"# index: compacted -> base gen={ix.gen} "
              f"({compacted[1]} {unit})", file=sys.stderr)
    return compacted


def _cmd_dedup_incremental(args, spark) -> int:
    """``dedup --index-dir``: treat ``--input`` as ONE newly-arrived
    shard of a continuously-growing corpus. The shard is screened
    against the persisted index (exact content hashes, or MinHash-LSH
    band buckets for ``--mode near``) WITHOUT re-reading any historical
    documents, per-doc verdicts go to ``--out``, and the shard's
    NOVELTY is published as the next immutable ``delta/gen=N`` segment
    (O(batch) publish — persisting the full union would cost O(corpus
    novelty) per shard). Once more than ``--compact-every`` deltas are
    live they are folded into ``base/gen=N`` (LSM-style compaction), so
    reader segment counts stay bounded. Stamp, replay guard, publish
    and compaction are the ``plans/epochs.py`` shard protocol
    ``substr --index-dir`` also follows; the index is stamped with
    ``--mode``. Wires the incremental operators from
    ``operators/dedup.py`` (``dedup_against_index`` /
    ``near_dup_against_index`` + ``updated_*_index(delta_only=True)``)
    end-to-end."""
    from .operators import bloom as bloomlib
    from .operators.dedup import (bucket_key_expr, dedup_against_index,
                                  minhash_band_signatures,
                                  near_dup_against_index,
                                  updated_dedup_index,
                                  updated_minhash_index)
    ix = _open_index(spark, args, {"mode": args.mode})
    if ix is None:
        return 2
    docs = (spark.read.parquet(args.input)
            .repartition(spark.sparkContext.defaultParallelism))
    id_type = docs.schema[args.id_col].dataType.simpleString()
    bloom_bits = getattr(args, "bloom_bits", 0) or 0
    sidecar_path = f"{args.index_dir}/_bloom"
    # membership sidecar: definitely-not-in-the-index keys skip the
    # index join entirely. A half-written/corrupt sidecar loads as
    # None and the screen falls back to the plain join — the sidecar
    # is an accelerator, never a correctness dependency. On a replay
    # it also holds the shard's own keys: a superset, so still safe.
    sidecar = None
    if bloom_bits and ix.screen:
        try:
            sidecar = bloomlib.load_bloom(spark, sidecar_path)
        except Exception:
            sidecar = None
    sigs = None
    if args.mode == "exact":
        schema = f"text_hash string, keep_id {id_type}"
        index = (spark.read.parquet(*ix.screen) if ix.screen
                 else spark.createDataFrame([], schema))
        side_key = lambda df: df.select(F.col("text_hash").alias("_k"))
        decisions = dedup_against_index(docs, index,
                                        text_col=args.text_col,
                                        id_col=args.id_col,
                                        index_bloom=sidecar)
        delta = updated_dedup_index(index, decisions, delta_only=True)
    else:
        schema = f"band int, band_hash string, keep_id {id_type}"
        index = (spark.read.parquet(*ix.screen) if ix.screen
                 else spark.createDataFrame([], schema))
        side_key = lambda df: df.select(bucket_key_expr().alias("_k"))
        # signatures computed ONCE, shared by the screen and the
        # published novelty (the operators' documented seam)
        sigs = minhash_band_signatures(docs, text_col=args.text_col,
                                       id_col=args.id_col).persist()
        verdicts = near_dup_against_index(docs, index,
                                          text_col=args.text_col,
                                          id_col=args.id_col,
                                          signatures=sigs,
                                          index_bloom=sidecar)
        decisions = verdicts.select(
            args.id_col, "text_hash",
            F.when(F.col("is_near_dup"), F.lit("drop_near"))
             .otherwise(F.lit("keep")).alias("decision"),
            F.col("match_id").alias("keep_id"))
        delta = updated_minhash_index(index, docs, signatures=sigs,
                                      delta_only=True)
    try:
        _write_with_tally(decisions, args.out, "decision")
        if bloom_bits and ix.replay is None:
            # sidecar update BEFORE the delta publish: under any crash
            # the sidecar is then a SUPERSET of the committed index —
            # extra members are harmless false positives, while missing
            # members would short-circuit a seen key to "novel" and
            # break exactness. Same (m, k) as the standing sidecar so
            # merge_blooms applies; a fresh sidecar takes m from
            # --bloom-bits with k=5 — near-optimal across the 7-15
            # bits/key loads a fixed-size filter passes through as the
            # index grows.
            delta = delta.persist()
            feed = side_key(delta)
            if sidecar is None and ix.segments:
                # no loadable sidecar over a NON-empty index (first run
                # with the sidecar enabled, or a corrupt/half-written
                # save): bootstrap from the FULL index ∪ delta — seeding
                # from the delta alone would persist a SUBSET, and a
                # subset sidecar short-circuits seen keys to "novel" on
                # the next shard
                feed = side_key(index).unionByName(feed)
            m = sidecar["m_bits"] if sidecar else bloom_bits
            k = sidecar["k"] if sidecar else 5
            fresh = bloomlib.build_bloom(feed, "_k", m_bits=m, k=k,
                                         n_items=-1)
            merged = (bloomlib.merge_blooms(sidecar, fresh) if sidecar
                      else fresh)
            bloomlib.save_bloom(spark, merged, sidecar_path)
        compacted = _publish_shard(ix, delta, "entries",
                                   args.compact_every)
    finally:
        if sigs is not None:
            sigs.unpersist()
        delta.unpersist()
    if bloom_bits and compacted is not None:
        # compaction is the one moment the full index is rewritten
        # anyway — rebuild the sidecar sized to 2x current entries
        # (the incremental merges keep m fixed, so a corpus that
        # outgrew --bloom-bits re-tightens its FPR here). Rebuild
        # AFTER base commit is safe: until the save lands, the old
        # sidecar is still a superset of the same logical index.
        base_path, n_total = compacted
        m_r, k_r = bloomlib.bloom_parameters(max(2 * n_total, 1), 0.01)
        m_r = min(max(m_r, bloom_bits), bloomlib.MAX_EXPR_BITS)
        rebuilt = bloomlib.build_bloom(
            side_key(spark.read.parquet(base_path)), "_k",
            m_bits=m_r, k=k_r, n_items=n_total)
        bloomlib.save_bloom(spark, rebuilt, sidecar_path)
    return 0


def cmd_dedup(args) -> int:
    """Keep/drop dedup policy over a documents parquet table
    (``operators/dedup.py::dedup_decisions``): per-doc decision
    (keep | drop_exact | drop_near) written to ``--out``, tally to
    stderr. ``--mode exact`` skips the near-dup (n-gram Jaccard) leg.
    With ``--index-dir`` the input is instead screened incrementally
    against (and absorbed into) a persisted cross-shard index — see
    :func:`_cmd_dedup_incremental`."""
    from .operators.dedup import dedup_decisions
    with _cli_session("log2seq-spark-dedup") as spark:
        if args.index_dir is not None:
            return _cmd_dedup_incremental(args, spark)
        docs = (spark.read.parquet(args.input)
                .repartition(spark.sparkContext.defaultParallelism))
        near_pairs = None
        if args.mode == "exact":
            id_type = docs.schema[args.id_col].dataType.simpleString()
            near_pairs = spark.createDataFrame(
                [], f"id_a {id_type}, id_b {id_type}, jaccard double")
        out = dedup_decisions(docs, text_col=args.text_col,
                              id_col=args.id_col,
                              threshold=args.threshold,
                              near_pairs=near_pairs)
        _write_with_tally(out, args.out, "decision")
    return 0


def cmd_substr(args) -> int:
    """Corpus-wide exact duplicate-substring scrub
    (``operators/substrdedup.py::scrub_duplicate_spans`` — the
    ExactSubstr policy from Lee et al. 2022 at token k-gram
    granularity): any run of >= ``--k`` tokens occurring at least
    ``--min-count`` times corpus-wide is removed everywhere except its
    canonical first occurrence. Scrubbed table written to ``--out``
    (text re-rendered single-spaced + ``n_dropped_tokens``), tally of
    scrubbed-vs-clean docs and the total dropped-token count to
    stderr.

    With ``--index-dir`` the input is ONE new shard screened against
    (and absorbed into) a persisted cross-shard gram index — history
    text is never re-read; the keeper policy becomes arrival order
    (grams already in the index scrub from every batch copy). The
    index follows the ``plans/epochs.py`` shard protocol of ``dedup
    --index-dir`` (stamped with ``--text-col`` and ``--k``); segments
    hold partial ``(gh, n_occ)`` counts and readers fold them with one
    sum."""
    from .operators.substrdedup import (scrub_against_index,
                                        scrub_duplicate_spans,
                                        substr_index)
    with _cli_session("log2seq-spark-substr") as spark:
        docs = (spark.read.parquet(args.input)
                .repartition(spark.sparkContext.defaultParallelism))
        if args.top is not None:
            if args.index_dir is not None:
                print("error: --top reports over --input only; it "
                      "does not read an --index-dir (a corpus-wide "
                      "report would be silently misleading)",
                      file=sys.stderr)
                return 2
            from .operators.substrdedup import (top_duplicated_runs,
                                                turn_key_expr)
            feed, id_col = docs, args.id_col
            if args.turns:
                feed = docs.withColumn(
                    "__sb_tid", turn_key_expr(args.conv_col,
                                              args.idx_col))
                id_col = "__sb_tid"
            rows = top_duplicated_runs(
                feed, text_col=args.text_col, id_col=id_col,
                k=args.k, min_count=args.min_count,
                top=args.top).collect()
            for r in rows:
                print(f"{r['n_occ']}\t{r['n_docs']}\t{r['example']}")
            print(f"# {len(rows)} duplicated runs (k={args.k})",
                  file=sys.stderr)
            return 0
        if args.out is None:
            print("error: --out is required (except with --top)",
                  file=sys.stderr)
            return 2
        status = F.when(F.col("n_dropped_tokens") > 0,
                        F.lit("scrubbed")).otherwise(F.lit("clean"))
        if args.turns:
            if args.index_dir is not None:
                print("error: --turns and --index-dir cannot combine "
                      "(turn-level incremental scrub is not "
                      "implemented)", file=sys.stderr)
                return 2
            from .operators.substrdedup import scrub_turn_boilerplate
            out = scrub_turn_boilerplate(
                docs, conv_col=args.conv_col, idx_col=args.idx_col,
                text_col=args.text_col, k=args.k,
                min_count=args.min_count)
            _write_with_tally(out.withColumn("scrub_status", status),
                              args.out, "scrub_status")
            return 0
        if args.index_dir is None:
            out = scrub_duplicate_spans(
                docs, text_col=args.text_col, id_col=args.id_col,
                k=args.k, min_count=args.min_count)
            _write_with_tally(out.withColumn("scrub_status", status),
                              args.out, "scrub_status")
            return 0
        from .operators.substrdedup import gram_positions
        # gram-space stamp: an index built with a different tokenizer
        # column or k is a DIFFERENT hash space — mixing them would
        # silently miss every historical duplicate
        ix = _open_index(spark, args, {"text_col": args.text_col,
                                       "k": args.k})
        if ix is None:
            return 2
        index = (spark.read.parquet(*ix.screen)
                 .groupBy("gh").agg(F.sum("n_occ").alias("n_occ"))
                 if ix.screen else
                 spark.createDataFrame([], "gh bigint, n_occ bigint"))
        # ONE tokenize+hash pass shared by screen and publish (the
        # signatures-computed-once discipline of dedup --index-dir);
        # try/finally so a failed write never strands the cached
        # grams in a caller-owned session
        grams = gram_positions(docs, text_col=args.text_col,
                               id_col=args.id_col, k=args.k).persist()
        try:
            out = scrub_against_index(
                docs, index, text_col=args.text_col,
                id_col=args.id_col, k=args.k,
                min_count=args.min_count, grams=grams)
            _write_with_tally(out.withColumn("scrub_status", status),
                              args.out, "scrub_status")
            _publish_shard(
                ix, substr_index(docs, k=args.k, grams=grams), "grams",
                args.compact_every, lambda df: df.groupBy("gh").agg(
                    F.sum("n_occ").alias("n_occ")))
        finally:
            grams.unpersist()
    return 0


def cmd_drift(args) -> int:
    """Two-period template drift (``operators/anomaly.py::
    template_drift``): mine templates over period A and period B and
    print ``status<TAB>n_a<TAB>n_b<TAB>template`` rows — "what changed
    between yesterday's logs and today's"."""
    from .operators.anomaly import template_drift
    with _cli_session("log2seq-spark-drift") as spark:
        a = _read_lines(spark, args.input_a, args.input_kind, args.text_col)
        b = _read_lines(spark, args.input_b, args.input_kind, args.text_col)
        out = template_drift(a, b, args.text_col, tokens_col=args.tokens_col,
                             factor=args.factor)
        if args.status:
            keep = [s.strip() for s in args.status.split(",") if s.strip()]
            out = out.filter(F.col("status").isin(keep))
        rows = (out.orderBy(F.desc("n_b"), F.desc("n_a"), "template")
                   .limit(args.top).collect())
        for r in rows:
            print(f"{r['status']}\t{r['n_a']}\t{r['n_b']}\t{r['template']}")
    return 0


def cmd_rare(args) -> int:
    """Rare-template line flagging (``operators/anomaly.py::
    rare_template_lines``): mine templates, assign one to every line,
    and surface the lines whose template covers at most ``--max-lines``
    corpus lines. With ``--out`` writes per-line verdicts to parquet
    (tally to stderr, like clean/dedup); otherwise prints up to
    ``--top`` rare lines as ``template_lines<TAB>text``.

    With ``--state-dir`` (``operators/anomaly.py::novel_line_flags``):
    screen this batch against the accumulated epoch state instead of
    the batch alone — rarity counts cover history ∪ batch, ``is_new``
    marks never-before-seen Drain groups, and the batch is folded into
    the state (skip with ``--screen-only``). Printed rows gain a
    leading ``new``/``rare``/``new+rare`` marker; ``--out`` verdicts
    gain ``is_new`` + a ``verdict`` tally column."""
    from .operators.anomaly import novel_line_flags, rare_template_lines
    with _cli_session("log2seq-spark-rare") as spark:
        lines = _read_lines(spark, args.input, args.input_kind, args.text_col)
        if getattr(args, "state_dir", None):
            # incremental screening: rarity judged against EVERYTHING ever
            # mined into the epoch state (history ∪ this batch — a message
            # common within the batch is not an anomaly), plus is_new for
            # Drain groups history has never seen. Same state dir
            # `templates --state-dir` maintains; unless
            # --screen-only, this batch is folded in as the next epoch so
            # the next shard screens against it too.
            try:
                prior, merged, epoch = _template_state_fold(
                    spark, lines, args.state_dir, args.text_col,
                    args.tokens_col, write=not args.screen_only)
            except ValueError as exc:   # incompatible tokenization stamp
                print(f"rare: {exc}", file=sys.stderr)
                return 2
            out = novel_line_flags(lines, prior, args.text_col,
                                   tokens_col=args.tokens_col,
                                   max_lines=args.max_lines,
                                   merged_profile=merged)
            if epoch is not None:
                print(f"# state: epoch={epoch}", file=sys.stderr)
            if args.out:
                flagged = F.col("is_rare") | F.col("is_new")
                verdict = (F.when(F.col("is_rare") & F.col("is_new"),
                                  F.lit("new+rare"))
                            .when(F.col("is_new"), F.lit("new"))
                            .when(F.col("is_rare"), F.lit("rare"))
                            .otherwise(F.lit("common")))
                _write_with_tally(out.withColumn("verdict", verdict),
                                  args.out, "verdict",
                                  only=flagged if args.rare_only else None)
            else:
                rows = (out.filter(F.col("is_rare") | F.col("is_new"))
                           .orderBy(F.coalesce("template_lines", F.lit(0)),
                                    args.text_col)
                           .limit(args.top).collect())
                for r in rows:
                    nl = r["template_lines"]
                    mark = "+".join(m for m, on in
                                    (("new", r["is_new"]),
                                     ("rare", r["is_rare"])) if on)
                    print(f"{mark}\t{0 if nl is None else nl}\t"
                          f"{r[args.text_col]}")
            return 0
        out = rare_template_lines(lines, args.text_col,
                                  tokens_col=args.tokens_col,
                                  max_lines=args.max_lines)
        if args.out:
            _write_with_tally(
                out, args.out, "is_rare",
                only=F.col("is_rare") if args.rare_only else None)
        else:
            rows = (out.filter("is_rare")
                       .orderBy(F.coalesce("template_lines", F.lit(0)),
                                args.text_col)
                       .limit(args.top).collect())
            for r in rows:
                nl = r["template_lines"]
                print(f"{0 if nl is None else nl}\t{r[args.text_col]}")
    return 0


def cmd_ann(args) -> int:
    """Approximate-nearest-neighbor index lifecycle
    (``operators/similarity.py``), the third incremental CLI surface
    beside ``dedup --index-dir`` and ``templates/rare --state-dir``:

    - ``ann build``  — k-means centroids over the corpus (deterministic
      seeds) + a centroid-partitioned IVF layout, cell space stamped
      beside the data;
    - ``ann append`` — ingest a new embedding batch into the existing
      stamped cells, O(batch), history untouched;
    - ``ann query``  — top-k probe off the stamp (partition-pruned
      scan); the query vector comes from ``--query-vec`` floats or
      ``--query-id`` looked up in ``--input``;
    - ``ann compact`` — bin-pack each cell's undersized files
      (``layout.compact_tree``); a rerun finishes an interrupted swap.

    Prints ``vec_id<TAB>cosine`` rows for query; a ``# cells=…`` /
    ``# appended`` note to stderr for build/append. Exit 2 on an
    unstamped/foreign index dir."""
    from .operators.similarity import (append_ivf_index, build_ivf_index,
                                       ivf_topk_indexed, kmeans_centroids,
                                       load_ivf_centroids)
    if args.action in ("build", "append") and not args.input:
        print(f"ann: {args.action} needs --input", file=sys.stderr)
        return 2
    with _cli_session("log2seq-spark-ann") as spark:
        if args.action == "build":
            embs = spark.read.parquet(args.input)
            cents = kmeans_centroids(embs, k=args.k_cells,
                                     n_iter=args.kmeans_iters,
                                     vec_col=args.vec_col,
                                     id_col=args.id_col)
            build_ivf_index(embs, cents, args.index_dir,
                            vec_col=args.vec_col)
            print(f"# cells={len(cents)}", file=sys.stderr)
        elif args.action == "append":
            try:
                append_ivf_index(spark.read.parquet(args.input),
                                 args.index_dir, vec_col=args.vec_col)
            except ValueError as exc:
                print(f"ann: {exc}", file=sys.stderr)
                return 2
            print("# appended", file=sys.stderr)
        elif args.action == "compact":
            from .operators import layout
            try:
                load_ivf_centroids(spark, args.index_dir)
            except ValueError as exc:
                print(f"ann: {exc}", file=sys.stderr)
                return 2
            # every centroid=N cell is a leaf; the stamp and _SUCCESS
            # are _-prefixed, so the bin-packing leaves them alone
            plans = layout.compact_tree(spark, args.index_dir,
                                        args.target_file_mb << 20)
            before = sum(pl["n_files"] for pl in plans)
            after = sum(pl["n_files"] - len(pl["rewrite"])
                        + pl.get("compacted_files", 0) for pl in plans)
            print(f"# compacted: {before} -> {after} files",
                  file=sys.stderr)
        else:   # query
            if args.query_vec:
                q = [float(x) for x in args.query_vec.split(",")]
            elif args.query_id is not None:
                if not args.input:
                    print("ann: --query-id needs --input to look the "
                          "vector up in", file=sys.stderr)
                    return 2
                row = (spark.read.parquet(args.input)
                       .filter(F.col(args.id_col) == args.query_id)
                       .select(args.vec_col).first())
                if row is None:
                    print(f"ann: no {args.id_col}={args.query_id} in "
                          f"{args.input}", file=sys.stderr)
                    return 1
                q = [float(x) for x in row[0]]
            else:
                print("ann: query needs --query-vec or --query-id",
                      file=sys.stderr)
                return 2
            try:
                out = ivf_topk_indexed(spark, args.index_dir, None, q,
                                       k=args.k, n_probe=args.n_probe,
                                       vec_col=args.vec_col,
                                       id_col=args.id_col)
            except ValueError as exc:
                print(f"ann: {exc}", file=sys.stderr)
                return 2
            for r in out.collect():
                print(f"{r[args.id_col]}\t{round(r['cosine'], 6)}")
        return 0


def cmd_heavy(args) -> int:
    """Exact heavy hitters (``operators/heavy.py``) over a table
    column or a tokenized text column: prints ``n<TAB>item`` rows for
    every item whose exact count strictly exceeds total/k — the
    Misra–Gries candidate pass + exact recount, never a full
    distinct-key shuffle. ``--tokenize`` treats ``--col`` as text and
    streams its whitespace tokens instead of the raw column values."""
    from .operators.heavy import heavy_hitters
    from .operators.textstats import tokens_expr
    with _cli_session("log2seq-spark-heavy") as spark:
        df = _read_input(spark, args.input_kind, args.input)
        if args.tokenize:
            stream = df.select(
                F.explode(tokens_expr(F.col(args.col))).alias("item"))
        else:
            stream = df.select(F.col(args.col).cast("string")
                                .alias("item"))
        out = heavy_hitters(stream, "item", k=args.k)
        for r in out.orderBy(F.desc("n"), "item").collect():
            print(f"{r['n']}\t{r['item']}")
    return 0


def cmd_bpe(args) -> int:
    """BPE tokenizer lifecycle (``operators/bpe.py``):

    - ``bpe train``  — learn a ranked merge list from a documents
      table (distributed word-count aggregate + size-gated merge
      loop); writes the merges as a JSON array of ``[a, b]`` pairs.
    - ``bpe encode`` — segment a documents table with a trained merge
      list; writes ``(id, n_bpe_tokens[, bpe_pieces])`` parquet and a
      ``# docs/tokens`` tally to stderr.

    Exit 2 when the merges file is missing or malformed."""
    import json as _json

    from .operators.bpe import bpe_encode, bpe_train
    merges = None
    if args.action == "encode":
        if not args.out:
            print("bpe: encode needs --out", file=sys.stderr)
            return 2
        try:
            with open(args.merges) as f:
                merges = [tuple(m) for m in _json.load(f)]
            if not all(len(m) == 2 for m in merges):
                raise ValueError("merges must be [a, b] pairs")
        except (OSError, ValueError) as e:
            print(f"bpe: cannot load merges {args.merges}: {e}",
                  file=sys.stderr)
            return 2
    with _cli_session("log2seq-spark-bpe") as spark:
        docs = spark.read.parquet(args.input)
        if args.action == "train":
            merges = bpe_train(docs, args.text_col,
                               n_merges=args.n_merges,
                               min_count=args.min_count)
            with open(args.merges, "w") as f:
                _json.dump([list(m) for m in merges], f)
            print(f"# merges: {len(merges)} -> {args.merges}",
                  file=sys.stderr)
            return 0
        enc = bpe_encode(docs, merges, args.text_col)
        cols = [F.col(args.id_col),
                F.size("bpe_pieces").alias("n_bpe_tokens")]
        if not args.counts_only:
            cols.append(F.col("bpe_pieces"))
        out = enc.select(*cols)
        out.write.mode("overwrite").parquet(args.out)
        tally = (spark.read.parquet(args.out)
                 .agg(F.count("*").alias("d"),
                      F.sum("n_bpe_tokens").alias("t")).collect()[0])
        print(f"# docs: {tally['d']}  bpe_tokens: {tally['t']}",
              file=sys.stderr)
        return 0


def cmd_bursts(args) -> int:
    """Event-rate burst detection (``operators/anomaly.py::
    burst_windows``): tumbling-window counts per key flagged against a
    trailing baseline; prints ``window_start<TAB>key?<TAB>n<TAB>
    base_n/base_windows<TAB>BURST?`` rows."""
    from .operators.anomaly import burst_windows
    with _cli_session("log2seq-spark-bursts") as spark:
        events = _read_input(spark, args.input_kind, args.input)
        out = burst_windows(events, args.ts_col, key_col=args.key_col,
                            window=args.window, trailing=args.trailing,
                            mult=args.mult, min_windows=args.min_windows)
        if args.bursts_only:
            out = out.filter("is_burst")
        key_cols = [args.key_col] if args.key_col else []
        rows = (out.orderBy("window_start", *key_cols)
                   .limit(args.top).collect())
        for r in rows:
            key = "\t".join(str(r[k]) for k in key_cols)
            parts = [str(r["window_start"])] + ([key] if key else [])
            parts += [str(r["n"]), f"{r['base_n']}/{r['base_windows']}",
                      "BURST" if r["is_burst"] else "-"]
            print("\t".join(parts))
        return 0


def cmd_outliers(args) -> int:
    """Robust per-key outlier scoring (``operators/anomaly.py::
    robust_outliers``): modified z over exact median/MAD. Prints the
    flagged rows ``key<TAB>value<TAB>z`` (largest |z| first) and a
    per-key tally to stderr."""
    from .operators.anomaly import robust_outliers
    with _cli_session("log2seq-spark-outliers") as spark:
        events = _read_input(spark, args.input_kind, args.input)
        keys = tuple(args.key_col.split(",")) if args.key_col else ()
        out = robust_outliers(events, args.value_col, keys,
                              threshold=args.threshold)
        flagged = (out.filter("is_outlier")
                      .orderBy(F.abs(F.col("robust_z")).desc())
                      .limit(args.top).collect())
        for r in flagged:
            key = "\t".join(str(r[k]) for k in keys)
            parts = ([key] if key else []) + [str(r[args.value_col]),
                                              f"{r['robust_z']:.3f}"]
            print("\t".join(parts))
        tally = (out.groupBy(*keys)
                    .agg(F.sum(F.col("is_outlier").cast("long"))
                          .alias("n"),
                         F.count("*").alias("total")).collect())
        for r in sorted(tally,
                        key=lambda r: tuple(str(r[k]) for k in keys)):
            key = ",".join(str(r[k]) for k in keys) or "(all)"
            print(f"# {key}: {r['n']} outliers / {r['total']} rows",
                  file=sys.stderr)
        return 0


def cmd_fill(args) -> int:
    """Time-series gap filling (``operators/gapfill.py::fill_gaps``):
    bucket a value column onto a per-key step grid (exact decimal sums
    → double), densify, fill by LOCF + linear interpolation, write the
    filled parquet and print a per-key filled/total tally to stderr."""
    from .operators.gapfill import fill_gaps
    with _cli_session("log2seq-spark-fill") as spark:
        events = _read_input(spark, args.input_kind, args.input)
        keys = [k for k in (args.key_col.split(",")
                            if args.key_col else [])]
        bucketed = (events
                    .groupBy(*keys,
                             F.date_trunc(args.trunc, F.col(args.ts_col))
                             .alias(args.ts_col))
                    .agg(F.sum(F.col(args.value_col)
                               .cast("decimal(18,2)"))
                          .cast("double").alias(args.value_col)))
        if not keys:
            bucketed = bucketed.withColumn("_k", F.lit("all"))
            keys = ["_k"]
        key = keys[0] if len(keys) == 1 else None
        if key is None:
            bucketed = bucketed.withColumn(
                "_k", F.concat_ws("/", *[F.col(k).cast("string")
                                         for k in keys]))
            key = "_k"
        filled = fill_gaps(bucketed.select(key, args.ts_col,
                                           args.value_col),
                           key_col=key, ts_col=args.ts_col,
                           value_col=args.value_col, step=args.step)
        filled.write.mode("overwrite").parquet(args.out)
        back = spark.read.parquet(args.out)
        for r in sorted(back.groupBy(key).agg(
                F.sum(F.col("filled").cast("long")).alias("nf"),
                F.count("*").alias("n")).collect(),
                key=lambda r: str(r[key])):
            print(f"# {r[key]}: filled {r['nf']} of {r['n']} grid rows",
                  file=sys.stderr)
        return 0


def cmd_render(args) -> int:
    """SFT-JSONL export (``operators/chatformat.py``): render each
    conversation of a turns table into one training sample —
    ``{conv_id, text, loss_spans, n_turns[, split]}`` — written as
    distributed JSONL. ``--split-val R`` adds a leakage-safe
    content-addressed train/val field hashed on conv_id."""
    from .operators.chatformat import render_samples
    with _cli_session("log2seq-spark-render") as spark:
        turns = _read_input(spark, args.input_kind, args.input)
        out = render_samples(turns, conv_col=args.conv_col,
                             idx_col=args.idx_col, role_col=args.role_col,
                             text_col=args.text_col,
                             loss_roles=tuple(args.loss_roles.split(",")))
        if args.split_val is not None:
            from .operators.sampling import leakage_safe_split
            out = leakage_safe_split(out, val_rate=args.split_val,
                                     id_col=args.conv_col)
        out.write.mode("overwrite").json(args.out)
        n = spark.read.json(args.out).count()
        print(f"# samples: {n}", file=sys.stderr)
    return 0


def cmd_shards(args) -> int:
    """Training-shard export (``operators/shards.py``): deterministic
    md5-interleave global shuffle written as ``shard=K`` directories
    (rows inside each shard in interleave order), with a per-shard
    census tally on stderr. ``--curriculum COL`` annotates each row
    with its curriculum phase first (equal-rank cuts by (score, id))
    so the training loader can schedule epochs easy → hard."""
    if not args.census_only and not args.out:
        print("error: --out is required unless --census-only",
              file=sys.stderr)
        return 2
    from .operators import shards as shards_ops
    with _cli_session("log2seq-spark-shards") as spark:
        df = _read_input(spark, args.input_kind, args.input)
        if args.curriculum:
            df = shards_ops.curriculum_phases(
                df, args.curriculum, n_phases=args.phases,
                id_col=args.id_col, ascending=not args.descending)
        if not args.census_only:
            shards_ops.write_shards(df, args.out, args.n_shards,
                                    id_col=args.id_col, seed=args.seed)
        cen = shards_ops.shard_census(df, args.n_shards,
                                      id_col=args.id_col,
                                      token_col=args.token_col,
                                      seed=args.seed)
        total = 0
        for r in cen.orderBy("shard").collect():
            total += r["n_docs"]
            print(f"# shard {r['shard']}: {r['n_docs']} docs,"
                  f" {r['n_tokens']} tokens,"
                  f" first={r['first_doc']} last={r['last_doc']}",
                  file=sys.stderr)
        print(f"# total: {total} docs in {args.n_shards} shards",
              file=sys.stderr)
        return 0


def cmd_chunk(args) -> int:
    """Document-chunk export (``operators/chunking.py``): every document
    split into sliding token windows with overlap, written as parquet
    ``(doc_id, chunk_idx, n_chunks, chunk_text, n_tokens)`` with a
    per-window-index tally on stderr."""
    from .operators import chunking
    with _cli_session("log2seq-spark-chunk") as spark:
        df = _read_input(spark, args.input_kind, args.input)
        try:
            ch = chunking.chunk_documents(
                df, text_col=args.text_col,
                chunk_tokens=args.chunk_tokens, overlap=args.overlap,
                id_col=args.id_col)
        except ValueError as exc:
            print(f"error: {exc}", file=sys.stderr)
            return 2
        ch.write.mode("overwrite").parquet(args.out)
        cen = (spark.read.parquet(args.out)
               .groupBy("chunk_idx")
               .agg(F.count("*").alias("n"),
                    F.sum("n_tokens").alias("toks"))
               .orderBy("chunk_idx").collect())
        total = sum(r["n"] for r in cen)
        for r in cen[:20]:
            print(f"# window {r['chunk_idx']}: {r['n']} chunks,"
                  f" {r['toks']} tokens", file=sys.stderr)
        if len(cen) > 20:
            print(f"# ... {len(cen) - 20} more windows", file=sys.stderr)
        print(f"# total: {total} chunks from {df.count()} docs",
              file=sys.stderr)
        return 0


def cmd_check(args) -> int:
    """Data-quality admission gate (``operators/expectations.py``): all
    checks compile into ONE aggregate pass; one report line per check on
    stdout; exit 0 when every check passes, 1 when any fails, 2 on a
    bad check spec."""
    from .operators import expectations as ex
    with _cli_session("log2seq-spark-check") as spark:
        df = _read_input(spark, args.input_kind, args.input)
        try:
            checks = []
            if args.transcripts:
                checks += ex.transcript_checks()
            for c in args.not_null or []:
                checks.append(ex.not_null(c))
            for c in args.unique or []:
                checks.append(ex.unique(c))
            for spec in args.range or []:
                col, lo, hi = spec.split(":")
                checks.append(ex.in_range(
                    col, lo=float(lo) if lo else None,
                    hi=float(hi) if hi else None))
            for spec in args.accepted or []:
                col, vals = spec.split(":", 1)
                checks.append(ex.accepted_values(col, vals.split("|")))
            for spec in args.matches or []:
                col, pat = spec.split(":", 1)
                checks.append(ex.matches(col, pat))
            if args.min_rows is not None:
                checks.append(ex.row_count(args.min_rows))
            if not checks:
                raise ValueError("no checks given (see --transcripts, "
                                 "--not-null, --unique, --range, "
                                 "--accepted, --matches, --min-rows)")
        except ValueError as exc:
            print(f"error: {exc}", file=sys.stderr)
            return 2
        report = ex.evaluate(df, checks)
        for r in report:
            mark = "PASS" if r["passed"] else "FAIL"
            print(f"{mark}\t{r['check']}\texpected {r['expected']}\t"
                  f"observed {r['observed']}")
        n_fail = sum(not r["passed"] for r in report)
        print(f"# {len(report) - n_fail}/{len(report)} checks passed",
              file=sys.stderr)
        return 0 if n_fail == 0 else 1


def cmd_compact(args) -> int:
    """Small-file compaction of a (possibly partitioned) parquet sink
    (``operators/layout.py``): finishes any interrupted swap, then
    bin-packs each leaf directory's undersized files into
    ~``--target-mb`` rewrites. ``--dry-run`` prints the plan only."""
    from .operators import layout
    with _cli_session("log2seq-spark-compact") as spark:
        target = int(args.target_mb * (1 << 20))
        if args.dry_run:
            # walk the SAME leaf set the real run rewrites (a
            # partitioned sink compacts per leaf — planning only the
            # root would report zero rewrites while --apply rewrites
            # many); dry-run must not mutate, so no resume_compaction
            plans = [layout.plan_compaction(spark, leaf, target,
                                            args.small_ratio)
                     for leaf in layout.leaf_dirs(spark, args.path)]
        else:
            plans = layout.compact_tree(spark, args.path, target,
                                        args.small_ratio)
        total_bins = total_rewritten = 0
        for pl in plans:
            state = ("plan" if args.dry_run else
                     "skip" if pl.get("skipped") else "done")
            print(f"# [{state}] {pl['dir']}: {pl['n_files']} files, "
                  f"{pl['n_small']} small, rewrite "
                  f"{len(pl['rewrite'])} -> {pl['n_bins']} "
                  f"({pl['bytes']} bytes)", file=sys.stderr)
            total_bins += pl["n_bins"]
            total_rewritten += len(pl["rewrite"])
        print(f"# total: {total_rewritten} files -> {total_bins} bins",
              file=sys.stderr)
        return 0


def cmd_expire(args) -> int:
    """Retention enforcement (``operators/layout.py``): keep the
    ``--keep`` newest ``<col>=<value>`` partitions under ``--path``,
    expire the rest. DRY-RUN unless ``--apply`` — the report prints
    either way, one line per partition."""
    from .operators import layout
    with _cli_session("log2seq-spark-expire") as spark:
        rep = layout.expire_partitions(spark, args.path, args.col,
                                       keep=args.keep, apply=args.apply)
        for r in rep:
            state = ("deleted" if r["deleted"]
                     else "expired (dry-run)" if r["expired"] else "kept")
            print(f"# {r['partition']}: {r['n_files']} files, "
                  f"{r['bytes']} bytes — {state}", file=sys.stderr)
        n_exp = sum(r["expired"] for r in rep)
        print(f"# {len(rep) - n_exp} kept, {n_exp} expired"
              + ("" if args.apply else " (dry-run; pass --apply)"),
              file=sys.stderr)
        return 0


def cmd_zorder(args) -> int:
    """Rewrite a parquet table Z-order-clustered on the given columns
    (``operators/layout.py``), then report the per-column skipping
    effectiveness of the new layout."""
    from .operators import layout
    with _cli_session("log2seq-spark-zorder") as spark:
        df = _read_input(spark, args.input_kind, args.input)
        cols = args.cols.split(",")
        try:
            layout.zorder_write(df, args.out, cols, bits=args.bits,
                                n_files=args.files)
        except ValueError as exc:
            print(f"error: {exc}", file=sys.stderr)
            return 2
        eff = layout.skipping_effectiveness(spark, args.out, cols)
        print(f"# {int(eff.pop('n_files'))} files", file=sys.stderr)
        for c in cols:
            print(f"# mean envelope width {c}: {eff[c]:.3f} "
                  "(expected scan fraction for a point filter)",
                  file=sys.stderr)
        return 0


def cmd_redact(args) -> int:
    """Copy-on-write DELETE (``operators/layout.py::delete_rows``):
    remove every row of a leaf parquet directory whose key appears in
    the keys table, rewriting only the files that contain one. The
    takedown path: a drop-list arrives after the sink was written."""
    from .operators import layout
    with _cli_session("log2seq-spark-redact") as spark:
        keys = _read_input(spark, args.keys_kind, args.keys)
        layout.resume_compaction(spark, args.path)   # finish a crash first
        rep = layout.delete_rows(spark, args.path, keys, args.key)
        state = "skip (no matching keys)" if rep["skipped"] else "done"
        print(f"# [{state}] {rep['dir']}: {rep['affected_files']} files "
              f"rewritten, {rep['n_deleted']} rows deleted",
              file=sys.stderr)
        return 0


def cmd_upsert(args) -> int:
    """Copy-on-write MERGE (``operators/layout.py::merge_upsert``):
    key-matched rows of the updates table replace stored rows, the rest
    are inserted; only files holding a matched key are rewritten."""
    from .operators import layout
    with _cli_session("log2seq-spark-upsert") as spark:
        ups = _read_input(spark, args.updates_kind, args.updates)
        layout.resume_compaction(spark, args.path)
        try:
            rep = layout.merge_upsert(spark, args.path, ups, args.key)
        except ValueError as exc:
            print(f"error: {exc}", file=sys.stderr)
            return 2
        print(f"# done {rep['dir']}: {rep['affected_files']} files "
              f"rewritten, {rep['n_updated']} updated, "
              f"{rep['n_inserted']} inserted", file=sys.stderr)
        return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="log2seq_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("parse", help="parse raw lines or a turns table")
    p.add_argument("files", nargs="*",
                   help="input files or globs (stdin when none given and no"
                        " --input): plain, .gz, .bz2, .xz and tar-family"
                        " archives, all read on the executors")
    p.add_argument("--input", default=None,
                   help="additional input path (alias for a positional file)")
    p.add_argument("--input-kind", choices=["text", "parquet", "table"],
                   default="text",
                   help="text files, a parquet path, or a catalog table "
                        "name (Iceberg when a catalog is configured)")
    p.add_argument("--encoding", default="utf-8",
                   help="encoding to load input files (undecodable bytes "
                        "become U+FFFD)")
    p.add_argument("-o", "--output", default=None,
                   help="output filename (formatted text; *.parquet writes"
                        " a parquet table instead)")
    p.add_argument("-t", "--format", choices=["object", "words"],
                   default="object")
    p.add_argument("-s", "--statement", action="store_true",
                   help="parse input as a statement (without header)")
    p.add_argument("--failures-only", action="store_true",
                   help="suppress successful results; show only failures"
                        " and summary")
    p.add_argument("--max-failures", type=int, default=5,
                   help="max failed lines to report to stderr (0 unlimited)")
    p.add_argument("-i", "--show-input", action="store_true",
                   help="prefix each successful result with the input line")
    p.add_argument("-v", "--verbose", action="store_true",
                   help="per-line rule trace to stderr for every reported "
                        "line: which header rule matched/mismatched and "
                        "the token state after each statement action "
                        "(reference __main__.py --verbose; trace produced "
                        "by the per-line oracle engine, so use on bounded "
                        "debugging inputs, not production corpora). "
                        "Ordering diverges from the reference: failure "
                        "traces are emitted in a batch before success "
                        "traces (the reference interleaves in input "
                        "order), and with a .parquet --output success "
                        "traces are skipped (results are not re-read "
                        "back through the reporter)")
    p.add_argument("--sample", type=int, default=None,
                   help="print at most N successful results (default: all)")
    p.add_argument("--multiline-start", default=None, metavar="REGEX",
                   help="collapse continuation lines into the record "
                        "opened by the previous line matching REGEX "
                        "(rlike semantics; anchor with ^) before parsing")
    p.add_argument("--multiline-sep", default=" ",
                   help="joiner between a record's lines (default: one "
                        "space — newlines do not cross the header "
                        "cascade's statement field)")
    p.add_argument("-p", "--parser-script", default=None)
    p.add_argument("--grok", action="append", default=None,
                   metavar="EXPR",
                   help="parse with a grok expression instead of a "
                        "preset (%%{PATTERN:name} syntax; repeat for a "
                        "first-match-wins cascade; ignored when "
                        "-p/--parser-script is given)")
    p.add_argument("--preset", default="default")
    p.add_argument("--year", type=int, default=None,
                   help="year for year-less headers (raw text inputs "
                        "default to the current year, like the reference)")
    p.set_defaults(fn=cmd_parse)

    p = sub.add_parser("pipeline", help="run parse→enrich→route→aggregate")
    p.add_argument("--input", required=True)
    p.add_argument("--input-kind", choices=["parquet", "table"],
                   default="parquet",
                   help="parquet path or catalog table name (Iceberg when "
                        "a catalog is configured)")
    p.add_argument("--out", required=True)
    p.add_argument("--buckets", type=int, default=64)
    p.add_argument("--no-resume", action="store_true")
    p.add_argument("--tokens-heavy-k", type=int, default=None,
                   help="bound the token aggregate: write only tokens "
                        "above 1/k of their (bucket, sink) volume "
                        "(exact heavy hitters) instead of full counts")
    p.add_argument("-p", "--parser-script", default=None)
    p.add_argument("--grok", action="append", default=None,
                   metavar="EXPR",
                   help="parse the text column with a grok expression "
                        "cascade instead of a preset")
    p.add_argument("--preset", default="default")
    p.set_defaults(fn=cmd_pipeline)

    p = sub.add_parser("generate", help="write the synthetic turns table")
    p.add_argument("--out", required=True)
    p.add_argument("--convs", type=int, default=1000)
    p.add_argument("--seed", type=int, default=42)
    p.set_defaults(fn=cmd_generate)

    p = sub.add_parser(
        "clean", help="corpus-cleaning recipe: scrub → line dedup → "
                      "exact dedup → quality gate")
    p.add_argument("--input", required=True,
                   help="documents parquet path")
    p.add_argument("--out", required=True)
    p.add_argument("--text-col", default="text")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--normalize", action="store_true",
                   help="Unicode hygiene first (NFC + control/zero-width "
                        "strip) so later dedup stages hash visually "
                        "identical text identically")
    p.add_argument("--no-scrub", action="store_true")
    p.add_argument("--no-line-dedup", action="store_true")
    p.add_argument("--quality-min", type=float, default=0.5,
                   help="minimum quality score; negative disables the gate")
    p.add_argument("--kept-only", action="store_true",
                   help="write only kept docs (default writes verdicts "
                        "for every doc)")
    p.set_defaults(fn=cmd_clean)

    p = sub.add_parser(
        "templates", help="Drain-style template mining over log lines "
                          "or a table column")
    p.add_argument("--input", required=True,
                   help="text/gz log path glob, parquet path, or table")
    p.add_argument("--input-kind", choices=["text", "parquet", "table"],
                   default="text")
    p.add_argument("--text-col", default="text")
    p.add_argument("--tokens-col", default=None,
                   help="mine a pre-tokenized array<string> column "
                        "(e.g. the pipeline's parsed words) instead of "
                        "splitting --text-col")
    p.add_argument("--min-count", type=int, default=1)
    p.add_argument("--top", type=int, default=100)
    p.add_argument("--multiline-start", default=None, metavar="REGEX",
                   help="collapse continuation lines into records before "
                        "mining (text input only; rlike semantics)")
    p.add_argument("--multiline-sep", default=" ",
                   help="joiner between a record's lines (default: space)")
    p.add_argument("--state-dir", default=None,
                   help="incremental mining: fold this corpus into the "
                        "epoch-versioned profile state kept here "
                        "(printed templates cover everything mined so "
                        "far)")
    p.set_defaults(fn=cmd_templates)

    p = sub.add_parser(
        "dedup", help="keep/drop dedup policy: exact content hash + "
                      "optional n-gram Jaccard near-dups")
    p.add_argument("--input", required=True,
                   help="documents parquet path")
    p.add_argument("--out", required=True)
    p.add_argument("--text-col", default="text")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--mode", choices=["near", "exact"], default="near")
    p.add_argument("--threshold", type=float, default=0.5,
                   help="Jaccard threshold for the near-dup leg")
    p.add_argument("--index-dir", default=None,
                   help="incremental mode: screen --input (one new "
                        "shard) against the persisted cross-shard "
                        "index in this directory and publish the "
                        "shard's novelty as the next delta/gen=N "
                        "segment; history is never re-read")
    p.add_argument("--compact-every", type=int, default=16,
                   help="fold delta segments into a base generation "
                        "once more than this many are live (0 = never)")
    p.add_argument("--bloom-bits", type=int, default=1 << 20,
                   help="incremental mode: initial size (bits) of the "
                        "index's Bloom membership sidecar (exact: "
                        "content hashes; near: LSH bucket keys) — "
                        "definitely-novel keys skip the index join. "
                        "Start small: each compaction REBUILDS the "
                        "sidecar at 2x the corpus's current novelty, "
                        "so it grows with the index (0 = no sidecar)")
    p.set_defaults(fn=cmd_dedup)

    p = sub.add_parser(
        "substr", help="exact duplicate-substring scrub: remove every "
                       "corpus-duplicated run of >= k tokens except "
                       "its first occurrence")
    p.add_argument("--input", required=True,
                   help="documents parquet path")
    p.add_argument("--out", default=None,
                   help="scrubbed-table output (required except with "
                        "--top)")
    p.add_argument("--top", type=int, default=None,
                   help="report mode: print the N most frequent "
                        "duplicated runs (n_occ<TAB>n_docs<TAB>text) "
                        "instead of scrubbing")
    p.add_argument("--text-col", default="text")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--k", type=int, default=20,
                   help="minimum duplicated run length in tokens")
    p.add_argument("--min-count", type=int, default=2,
                   help="corpus-wide occurrences that make a k-gram "
                        "duplicated")
    p.add_argument("--index-dir", default=None,
                   help="incremental mode: screen --input (one new "
                        "shard) against the persisted cross-shard "
                        "gram index in this directory and publish the "
                        "shard's gram counts as the next delta/gen=N "
                        "segment; history text is never re-read")
    p.add_argument("--compact-every", type=int, default=16,
                   help="fold delta segments into a base generation "
                        "once more than this many are live (0 = never)")
    p.add_argument("--turns", action="store_true",
                   help="treat --input as the transcripts turns table "
                        "(conv_id/turn_idx/text): scrub repeated "
                        "system prompts / tool preambles turn-level, "
                        "keeper = first (conv, turn) occurrence")
    p.add_argument("--conv-col", default="conv_id")
    p.add_argument("--idx-col", default="turn_idx")
    p.set_defaults(fn=cmd_substr)

    p = sub.add_parser(
        "drift", help="two-period template drift: what changed between "
                      "log corpus A and log corpus B")
    p.add_argument("--input-a", required=True,
                   help="period-A log path (text/gz glob, parquet, or table)")
    p.add_argument("--input-b", required=True,
                   help="period-B log path")
    p.add_argument("--input-kind", choices=["text", "parquet", "table"],
                   default="text")
    p.add_argument("--text-col", default="text")
    p.add_argument("--tokens-col", default=None,
                   help="compare pre-tokenized array<string> columns")
    p.add_argument("--factor", type=int, default=4,
                   help="share ratio that flags surge/drop (default 4x)")
    p.add_argument("--status", default=None,
                   help="comma list to keep (new,vanished,surge,drop,"
                        "stable); default prints all")
    p.add_argument("--top", type=int, default=100)
    p.set_defaults(fn=cmd_drift)

    p = sub.add_parser(
        "rare", help="flag log lines whose mined template is rare "
                     "(matches no common pattern)")
    p.add_argument("--input", required=True,
                   help="log path (text/gz glob, parquet, or table)")
    p.add_argument("--input-kind", choices=["text", "parquet", "table"],
                   default="text")
    p.add_argument("--text-col", default="text")
    p.add_argument("--tokens-col", default=None)
    p.add_argument("--max-lines", type=int, default=1,
                   help="a template covering <= this many lines is rare")
    p.add_argument("--out", default=None,
                   help="write per-line verdicts to this parquet path "
                        "instead of printing rare lines")
    p.add_argument("--rare-only", action="store_true",
                   help="with --out, write only the rare lines (tally "
                        "still covers all)")
    p.add_argument("--top", type=int, default=100)
    p.add_argument("--state-dir", default=None,
                   help="screen against the accumulated template state "
                        "kept here (same epoch format as `templates "
                        "--state-dir`): rarity "
                        "covers history ∪ batch, is_new flags "
                        "never-seen groups, batch folded in after")
    p.add_argument("--screen-only", action="store_true",
                   help="with --state-dir: do not fold this batch into "
                        "the state (read-only screening)")
    p.set_defaults(fn=cmd_rare)

    p = sub.add_parser(
        "ann", help="IVF vector index: build / append (incremental "
                    "ingestion) / top-k query / compact (small-files "
                    "maintenance)")
    p.add_argument("action",
                   choices=["build", "append", "query", "compact"])
    p.add_argument("--index-dir", required=True,
                   help="centroid-partitioned IVF layout (cell space "
                        "stamped at build; appends and queries run off "
                        "the stamp)")
    p.add_argument("--input", default=None,
                   help="embeddings parquet (required for build/append; "
                        "for query, the table --query-id looks up in)")
    p.add_argument("--vec-col", default="embedding")
    p.add_argument("--id-col", default="vec_id")
    p.add_argument("--k-cells", type=int, default=8,
                   help="build: number of k-means cells")
    p.add_argument("--kmeans-iters", type=int, default=3)
    p.add_argument("--k", type=int, default=10,
                   help="query: neighbors to return")
    p.add_argument("--n-probe", type=int, default=2,
                   help="query: cells to scan")
    p.add_argument("--query-vec", default=None,
                   help="query: comma-separated floats")
    p.add_argument("--query-id", type=int, default=None,
                   help="query: look this id's vector up in --input")
    p.add_argument("--target-file-mb", type=int, default=128,
                   help="compact: bin-pack each cell's files under half "
                        "this size into files of about this size; "
                        "larger files are left as they are")
    p.set_defaults(fn=cmd_ann)

    p = sub.add_parser(
        "heavy", help="exact heavy hitters: items with count > n/k, "
                      "without a full distinct-key shuffle")
    p.add_argument("--input", required=True)
    p.add_argument("--input-kind", choices=["parquet", "table"],
                   default="parquet")
    p.add_argument("--col", default="text",
                   help="column to count (raw values, or text with "
                        "--tokenize)")
    p.add_argument("--tokenize", action="store_true",
                   help="stream whitespace tokens of --col instead of "
                        "raw values")
    p.add_argument("-k", type=int, default=20,
                   help="threshold divisor: report items with "
                        "count > n/k (also bounds the answer size)")
    p.set_defaults(fn=cmd_heavy)

    p = sub.add_parser(
        "bpe", help="BPE tokenizer: train a merge list / encode a "
                    "documents table with it")
    p.add_argument("action", choices=["train", "encode"])
    p.add_argument("--input", required=True,
                   help="documents parquet path")
    p.add_argument("--merges", required=True,
                   help="merge-list JSON: written by train, read by "
                        "encode")
    p.add_argument("--out", default=None,
                   help="encode: output parquet path")
    p.add_argument("--text-col", default="text")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--n-merges", type=int, default=200)
    p.add_argument("--min-count", type=int, default=2,
                   help="train: stop when the best pair drops below "
                        "this count")
    p.add_argument("--counts-only", action="store_true",
                   help="encode: write n_bpe_tokens without the pieces "
                        "arrays")
    p.set_defaults(fn=cmd_bpe)

    p = sub.add_parser(
        "bursts", help="event-rate burst windows vs a trailing baseline")
    p.add_argument("--input", required=True,
                   help="events parquet path or table")
    p.add_argument("--input-kind", choices=["parquet", "table"],
                   default="parquet")
    p.add_argument("--ts-col", default="ts")
    p.add_argument("--key-col", default=None,
                   help="optional grouping key (e.g. host)")
    p.add_argument("--window", default="1 hour",
                   help="tumbling window size (default '1 hour')")
    p.add_argument("--trailing", type=int, default=3,
                   help="trailing windows in the baseline (default 3)")
    p.add_argument("--mult", type=int, default=3,
                   help="burst when n > mult x trailing mean (default 3)")
    p.add_argument("--min-windows", type=int, default=1,
                   help="minimum baseline windows before flagging")
    p.add_argument("--bursts-only", action="store_true")
    p.add_argument("--top", type=int, default=100)
    p.set_defaults(fn=cmd_bursts)

    p = sub.add_parser(
        "outliers", help="robust per-key outlier scoring "
                         "(modified z over exact median/MAD)")
    p.add_argument("--input", required=True,
                   help="events parquet path or table")
    p.add_argument("--input-kind", choices=["parquet", "table"],
                   default="parquet")
    p.add_argument("--value-col", default="value")
    p.add_argument("--key-col", default=None,
                   help="comma-separated grouping keys "
                        "(default: one global group)")
    p.add_argument("--threshold", type=float, default=3.5,
                   help="|modified z| cut (Iglewicz-Hoaglin default 3.5)")
    p.add_argument("--top", type=int, default=100)
    p.set_defaults(fn=cmd_outliers)

    p = sub.add_parser(
        "fill", help="densify a keyed value series onto a step grid "
                     "(LOCF + linear interpolation)")
    p.add_argument("--input", required=True,
                   help="events parquet path or table")
    p.add_argument("--input-kind", choices=["parquet", "table"],
                   default="parquet")
    p.add_argument("--out", required=True, help="filled parquet output")
    p.add_argument("--ts-col", default="ts")
    p.add_argument("--value-col", default="value")
    p.add_argument("--key-col", default=None,
                   help="comma-separated grouping keys "
                        "(default: one global series)")
    p.add_argument("--trunc", default="hour",
                   help="date_trunc unit for bucketing (default hour)")
    p.add_argument("--step", default="1 hour",
                   help="grid step interval (default '1 hour'; match "
                        "--trunc)")
    p.set_defaults(fn=cmd_fill)

    p = sub.add_parser(
        "render",
        help="export chat-format SFT samples (JSONL with loss spans)")
    p.add_argument("--input", required=True,
                   help="turns table (conv_id, turn_idx, role, text)")
    p.add_argument("--input-kind", choices=["parquet", "table"],
                   default="parquet")
    p.add_argument("--out", required=True, help="JSONL output directory")
    p.add_argument("--conv-col", default="conv_id")
    p.add_argument("--idx-col", default="turn_idx")
    p.add_argument("--role-col", default="role")
    p.add_argument("--text-col", default="text")
    p.add_argument("--loss-roles", default="assistant",
                   help="comma-separated roles whose content bears loss")
    p.add_argument("--split-val", type=float, default=None,
                   help="add a leakage-safe train/val field at this rate"
                        " (hashed on conv id)")
    p.set_defaults(fn=cmd_render)

    p = sub.add_parser(
        "shards",
        help="export deterministic training shards (md5 interleave)")
    p.add_argument("--input", required=True,
                   help="documents parquet path or table")
    p.add_argument("--input-kind", choices=["parquet", "table"],
                   default="parquet")
    p.add_argument("--out", default=None,
                   help="output directory (shard=K subdirs)")
    p.add_argument("--n-shards", type=int, default=8)
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--token-col", default=None,
                   help="optional token-count column for the census")
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--curriculum", default=None, metavar="SCORE_COL",
                   help="annotate curriculum phase cuts by this score")
    p.add_argument("--phases", type=int, default=4)
    p.add_argument("--descending", action="store_true",
                   help="curriculum hardest-first (score descending)")
    p.add_argument("--census-only", action="store_true",
                   help="print the census without writing shards")
    p.set_defaults(fn=cmd_shards)

    p = sub.add_parser(
        "chunk",
        help="split documents into sliding token windows with overlap")
    p.add_argument("--input", required=True,
                   help="documents parquet path or table")
    p.add_argument("--input-kind", choices=["parquet", "table"],
                   default="parquet")
    p.add_argument("--out", required=True, help="chunk parquet directory")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--chunk-tokens", type=int, default=128)
    p.add_argument("--overlap", type=int, default=32)
    p.set_defaults(fn=cmd_chunk)

    p = sub.add_parser(
        "check",
        help="data-quality admission gate (one aggregate pass)")
    p.add_argument("--input", required=True,
                   help="parquet path or table to gate")
    p.add_argument("--input-kind", choices=["parquet", "table"],
                   default="parquet")
    p.add_argument("--transcripts", action="store_true",
                   help="apply the standing transcripts-table gate")
    p.add_argument("--not-null", action="append", metavar="COL")
    p.add_argument("--unique", action="append", metavar="COL")
    p.add_argument("--range", action="append", metavar="COL:LO:HI",
                   help="empty LO or HI leaves that side unbounded")
    p.add_argument("--accepted", action="append", metavar="COL:V1|V2")
    p.add_argument("--matches", action="append", metavar="COL:REGEX")
    p.add_argument("--min-rows", type=int, default=None)
    p.set_defaults(fn=cmd_check)

    p = sub.add_parser(
        "compact",
        help="bin-pack undersized parquet files under a sink directory")
    p.add_argument("--path", required=True,
                   help="sink root (leaf dirs are compacted in place)")
    p.add_argument("--target-mb", type=float, default=128.0,
                   help="target output file size (default 128 MiB)")
    p.add_argument("--small-ratio", type=float, default=0.5,
                   help="files under small-ratio*target are candidates")
    p.add_argument("--dry-run", action="store_true",
                   help="print the plan for --path itself; rewrite "
                        "nothing")
    p.set_defaults(fn=cmd_compact)

    p = sub.add_parser(
        "expire",
        help="retention: keep the newest K partitions, expire the rest")
    p.add_argument("--path", required=True,
                   help="sink root holding <col>=<value> partition dirs")
    p.add_argument("--col", required=True, help="partition column name")
    p.add_argument("--keep", type=int, required=True,
                   help="number of newest partitions to keep")
    p.add_argument("--apply", action="store_true",
                   help="actually delete (default: dry-run report)")
    p.set_defaults(fn=cmd_expire)

    p = sub.add_parser(
        "zorder",
        help="rewrite a parquet table Z-order-clustered on key columns")
    p.add_argument("--input", required=True,
                   help="parquet path or table")
    p.add_argument("--input-kind", choices=["parquet", "table"],
                   default="parquet")
    p.add_argument("--out", required=True, help="clustered output dir")
    p.add_argument("--cols", required=True,
                   help="comma-separated numeric/timestamp key columns")
    p.add_argument("--bits", type=int, default=10)
    p.add_argument("--files", type=int, default=None,
                   help="output file count (default: parallelism)")
    p.set_defaults(fn=cmd_zorder)

    p = sub.add_parser(
        "redact",
        help="copy-on-write DELETE of keyed rows from a parquet dir")
    p.add_argument("--path", required=True,
                   help="leaf parquet directory to redact in place")
    p.add_argument("--keys", required=True,
                   help="parquet path or table holding the drop keys")
    p.add_argument("--keys-kind", choices=["parquet", "table"],
                   default="parquet")
    p.add_argument("--key", required=True, help="key column name")
    p.set_defaults(fn=cmd_redact)

    p = sub.add_parser(
        "upsert",
        help="copy-on-write MERGE of a keyed updates table into a "
             "parquet dir")
    p.add_argument("--path", required=True,
                   help="leaf parquet directory to merge into")
    p.add_argument("--updates", required=True,
                   help="parquet path or table of key-unique update rows")
    p.add_argument("--updates-kind", choices=["parquet", "table"],
                   default="parquet")
    p.add_argument("--key", required=True, help="key column name")
    p.set_defaults(fn=cmd_upsert)

    args = ap.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
