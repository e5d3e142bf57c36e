"""The four workloads: set-up, one measured round, and its checks.

A round is the workload's unit of work, run through the package's
public entry points:

- ``audio_batch`` / ``text_syndication``: one ``DedupPipeline.run``.
- ``incremental_ingest``: a closed loop of daily batches against a
  standing index (probe, write hits, append, release).
- ``stream_neardup``: one drain of a bounded file stream.

``round(i, tr)`` with a ``spans.Tracer`` records spans around each
layer call; the batch workloads then rebuild the pipeline from the
layers' public functions (``traced_round``), because Spark runs lazily
and a span around ``DedupPipeline.run`` cannot see inside it.
"""

from __future__ import annotations

import shutil
import time
from contextlib import nullcontext
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import functions as F

from harness import Stopwatch, fingerprint, median, pair_scores, stable_hash
import inputs as I

MIN_RECALL = 0.99
MIN_PRECISION = 0.99


@dataclass
class Round:
    wall_s: float
    records: int
    batch_s: list[float]
    cpu_s: float = 0.0  # CPU seconds of the driver JVM and Python workers
    ops: int = 1
    failed_ops: int = 0
    errors: list[str] = field(default_factory=list)
    recall: float = 0.0
    precision: float = 0.0
    # output fingerprints in input order (the components table; each
    # daily batch's hits, then the grown index; the pairs among the
    # stream's first files, then all pairs). Rounds over the same input,
    # or over a prefix of it, must agree on every position they share.
    prints: list = field(default_factory=list)
    layers: dict = field(default_factory=dict)  # per-layer counts and times

    def fail(self, msg: str) -> None:
        self.errors.append(msg)


def _span(tr, name: str):
    return tr.span(name) if tr is not None else nullcontext()


class _Workload:
    name = ""
    unit = "clips"

    def __init__(self, spark, work: Path, seed: int, size: dict):
        self.spark, self.work, self.seed, self.size = spark, work, seed, size
        self.info: dict = {}  # facts about the inputs, recorded with the result

    def setup(self) -> None:
        raise NotImplementedError

    def warm(self) -> Round:
        """One untimed, checked round on the same inputs before the
        timed ones: the JIT compiles the hot paths, code is generated and
        Python workers are started, and its fingerprints are the repeat
        the timed rounds must reproduce."""
        return self.round("warm")

    def round(self, i, tr=None) -> Round:
        raise NotImplementedError

    def traced_round(self, i, tr) -> Round:
        return self.round(i, tr)


class _BatchPipeline(_Workload):
    with_audio = True

    def setup(self) -> None:
        gen = I.audio_corpus if self.with_audio else I.text_corpus
        t0 = time.monotonic()
        self.corpus = gen(self.spark, self.work, self.seed, self.size)
        self.clips = self.spark.read.parquet(self.corpus.path)
        self.info = {"generate_s": time.monotonic() - t0, **self.corpus.extra}

    def _warehouse(self, i):
        from sems_event_deduplication_spark.sources.warehouse import WarehouseIO

        path = self.work / f"wh_{i}"
        shutil.rmtree(path, ignore_errors=True)
        return path, WarehouseIO(self.spark, str(path))

    def round(self, i, tr=None) -> Round:
        from sems_event_deduplication_spark.conf import DedupConfig
        from sems_event_deduplication_spark.plans.pipeline import DedupPipeline

        path, wh = self._warehouse(i)
        with Stopwatch() as sw:
            res = DedupPipeline(self.spark, DedupConfig(), wh).run(
                self.clips, with_audio=self.with_audio, checkpoint_mode="min",
                payload_in_survivors=False,
            )
        rnd = Round(sw.wall_s, self.corpus.n_rows, [sw.wall_s], sw.cpu_s)
        rnd.layers = {
            f"pipeline.{m.stage}_s": m.seconds for m in res.metrics
        }
        self._check(rnd, wh, res.survivors, self.corpus)
        shutil.rmtree(path, ignore_errors=True)
        return rnd

    def _check(self, rnd: Round, wh, survivors, corpus: I.Corpus) -> None:
        """Planted-truth pair scores, survivors = one per component with
        the source transcript, and the components fingerprint."""
        comp = wh.load_clean("components").select("clip_id", "component")
        rnd.prints = [fingerprint(comp, ["clip_id", "component"])]
        pred = {r["clip_id"]: r["component"] for r in comp.collect()}
        truth = corpus.truth
        if set(pred) != set(truth):
            rnd.fail(f"components cover {len(pred)} ids, corpus has {len(truth)}")
            return
        rnd.recall, rnd.precision = pair_scores(truth, pred)
        near, unpairable = (corpus.extra.get(k, 0)
                            for k in ("near_audio_pairs", "near_audio_unpairable"))
        if near >= 20 and unpairable > 0.1 * near:
            # a guard on the generator: the frozen reference rule must
            # still pair nearly all planted near-audio dups
            rnd.fail(f"{unpairable} of {near} planted near-audio dups are "
                     "beyond the Hamming threshold")
        if rnd.recall < MIN_RECALL:
            rnd.fail(f"dup-pair recall {rnd.recall:.4f} < {MIN_RECALL}")
        if rnd.precision < MIN_PRECISION:
            rnd.fail(f"dup-pair precision {rnd.precision:.4f} < {MIN_PRECISION}")
        surv = survivors.select("clip_id", "transcript").collect()
        n_comp = len(set(pred.values()))
        if len(surv) != n_comp:
            rnd.fail(f"{len(surv)} survivors for {n_comp} components")
        src = corpus.transcripts
        bad = [r["clip_id"] for r in surv if src.get(r["clip_id"]) != r["transcript"]]
        if bad:
            rnd.fail(f"{len(bad)} survivor transcripts differ from the source")

    def traced_round(self, i, tr) -> Round:
        """The pipeline rebuilt from the layers' public functions, in the
        order ``DedupPipeline.run`` (fused scan, "min" checkpoints) calls
        them, with every layer boundary committed so each span holds
        that layer's work. Must reproduce the same components table."""
        from sems_event_deduplication_spark.conf import DedupConfig
        from sems_event_deduplication_spark.functions import audio as A
        from sems_event_deduplication_spark.functions import minhash as M
        from sems_event_deduplication_spark.functions import text as X
        from sems_event_deduplication_spark.operators import lsh, verify
        from sems_event_deduplication_spark.operators.components import (
            assign_components, connected_components,
        )
        from sems_event_deduplication_spark.operators.exact_dedup import (
            digest_rank_edges, exact_dedup_digest_keys, kept_from_edges,
        )
        from sems_event_deduplication_spark.operators.survivors import (
            cluster_summary, select_survivors,
        )

        cfg = DedupConfig()
        path, wh = self._warehouse(i)
        clips, audio = self.clips, self.with_audio
        L: dict = {}
        with Stopwatch() as sw, tr.span("plans.pipeline"):
            with tr.span("functions.minhash"):
                keys, digests = exact_dedup_digest_keys(
                    "transcript_norm", "bytes" if audio else None, cfg.exact_digest_algo
                )
                text = clips.select(
                    "clip_id", "bytes",
                    X.normalize_text(F.col("transcript")).alias("transcript_norm"),
                ).select("clip_id", "transcript_norm", *digests).withColumn(
                    "shingle_hashes",
                    M.shingle_hashes(X.char_shingles(F.col("transcript_norm"), cfg.shingle_k)),
                )
                text = text.withColumn(
                    "minhash_sig", M.make_minhash_udf(cfg.num_perm, cfg.seed)(F.col("shingle_hashes"))
                ).withColumn(
                    "bands", M.band_hashes(F.col("minhash_sig"), cfg.bands, cfg.rows_per_band)
                )
                sigs_all = wh.checkpoint(text, "sig_text")
            if audio:
                with tr.span("functions.audio"):
                    ash = A.make_audio_simhash_udf(
                        cfg.fft_frame, cfg.fft_hop, cfg.n_mel_bands, cfg.simhash_bits,
                        cfg.seed, floor_db=cfg.fp_floor_db,
                    )
                    aud = clips.select(
                        "clip_id", ash(F.col("bytes"), F.col("codec")).alias("audio_simhash")
                    ).withColumn(
                        "audio_bands",
                        A.simhash_bands(F.col("audio_simhash"), cfg.simhash_bands, cfg.simhash_bits),
                    )
                    sigs_all = sigs_all.join(wh.checkpoint(aud, "sig_audio"), "clip_id")
            with tr.span("operators.exact_dedup"):
                exact_edges = wh.checkpoint(
                    digest_rank_edges(sigs_all.select("clip_id", *keys), keys), "exact_edges"
                )
                sigs = kept_from_edges(
                    sigs_all, exact_edges, "clip_id",
                    cfg.exact_dedup_strategy, cfg.exact_dedup_max_broadcast_ids,
                ).drop(*keys)
                L["exact.edges"] = exact_edges.count()
            with tr.span("operators.lsh"):
                all_bands = F.concat("bands", "audio_bands") if audio else F.col("bands")
                sized_all = lsh.size_buckets(
                    lsh.explode_bands(sigs.withColumn("__all", all_bands), "clip_id", "__all")
                ).persist()
                sized_text = sized_all.filter(F.col("band_id") < cfg.bands)
                sized_audio = sized_all.filter(F.col("band_id") >= cfg.bands)
                cand_text = wh.checkpoint(
                    lsh.candidate_pairs(sized_text, cfg.max_bucket_size), "cand_text"
                )
                stats = lsh.bucket_stats(sized_text, cfg.max_bucket_size)
                n_cand = cand_text.count()
                if audio:
                    cand_audio = wh.checkpoint(
                        lsh.candidate_pairs(sized_audio, cfg.max_bucket_size), "cand_audio"
                    )
                    stats = stats.unionByName(lsh.bucket_stats(sized_audio, cfg.max_bucket_size))
                    n_cand += cand_audio.count()
                st = stats.agg(
                    F.sum("n_star_buckets").alias("star"),
                    F.sum("n_pairs_not_enumerated").alias("skipped"),
                ).first()
                L["lsh.candidates"] = n_cand
                L["lsh.n_star_buckets"] = int(st["star"] or 0)
                L["lsh.pairs_not_enumerated"] = int(st["skipped"] or 0)
            try:
                with tr.span("operators.verify"):
                    with tr.span("operators.verify.jaccard"):
                        verified = wh.checkpoint(verify.verify_jaccard(
                            cand_text, sigs, cfg.num_perm, cfg.jaccard_threshold,
                            cfg.est_margin, shingles_col="shingle_hashes",
                        ).withColumn("kind", F.lit("text")), "v_text")
                    with tr.span("operators.verify.containment"):
                        verified = verified.unionByName(wh.checkpoint(verify.containment_pairs(
                            sized_text, sigs, cfg.max_bucket_size, n_bands=cfg.containment_bands
                        ).select("id_a", "id_b", F.lit(1.0).alias("jaccard"),
                                 F.lit("containment").alias("kind")), "v_contain"))
                    if audio:
                        with tr.span("operators.verify.hamming"):
                            verified = verified.unionByName(wh.checkpoint(verify.verify_hamming(
                                cand_audio, sigs, cfg.hamming_threshold
                            ).select("id_a", "id_b", F.lit(None).cast("double").alias("jaccard"),
                                     F.lit("audio").alias("kind")), "v_audio"))
                    verified = wh.checkpoint(verified.groupBy("id_a", "id_b").agg(
                        F.max("jaccard").alias("jaccard"),
                        F.sort_array(F.collect_set("kind")).alias("kinds"),
                    ), "verified_pairs")
                    L["verify.pairs_in"] = n_cand
                    L["verify.pairs_out"] = verified.count()
            finally:
                sized_all.unpersist()
            with tr.span("operators.components"):
                cc_info: dict = {}
                edges = verified.select("id_a", "id_b").unionByName(
                    exact_edges.select("id_a", "id_b")
                )
                with tr.span("operators.components.cc"):
                    comp = connected_components(
                        edges, "id_a", "id_b", cfg.cc_max_iterations,
                        local_threshold=cfg.cc_local_edges, info=cc_info,
                    )
                with tr.span("operators.components.assign"):
                    clustered = wh.checkpoint(
                        assign_components(sigs_all.select("clip_id", "transcript_norm"), comp),
                        "components",
                    )
                L["cc.edges"] = cc_info.get("n_edges", 0)
                L["cc.iterations"] = cc_info.get("iterations", 0)
            with tr.span("operators.survivors"):
                meta = ["clip_id", "sr_hz", "dur_ms", "codec", "transcript"]
                survivors = wh.checkpoint(
                    select_survivors(clustered).join(clips.select(*meta), "clip_id"), "survivors"
                )
                wh.checkpoint(cluster_summary(clustered), "clusters")
        rnd = Round(sw.wall_s, self.corpus.n_rows, [sw.wall_s], sw.cpu_s, layers=L)
        self._check(rnd, wh, survivors, self.corpus)
        shutil.rmtree(path, ignore_errors=True)
        return rnd


class AudioBatch(_BatchPipeline):
    name = "audio_batch"
    with_audio = True


class TextSyndication(_BatchPipeline):
    name = "text_syndication"
    with_audio = False


class IncrementalIngest(_Workload):
    name = "incremental_ingest"

    def setup(self) -> None:
        """Generate the index and batches, then sign the index once."""
        from sems_event_deduplication_spark.conf import DedupConfig
        from sems_event_deduplication_spark.operators.incremental import sign_batch

        self.cfg = DedupConfig()
        t0 = time.monotonic()
        self.inputs = I.ingest_inputs(self.spark, self.work, self.seed, self.size)
        self.info["generate_s"] = time.monotonic() - t0
        self.index_dir = self.work / "ingest_index_signed"
        sign_batch(self.spark.read.parquet(self.inputs.index_path), self.cfg).write.mode(
            "overwrite"
        ).parquet(str(self.index_dir))
        self.n_index = self.size["ingest_index"]

    def warm(self) -> Round:
        """The schedule's first batches: every batch runs the same jobs,
        so a prefix warms them for less than a round costs, and its hits
        are the repeat of the timed round's first batches."""
        return self.round("warm", n_batches=self.size["ingest_warm_batches"])

    def round(self, i, tr=None, n_batches: int | None = None) -> Round:
        """The schedule's batches (all, or the first ``n_batches``)
        against a fresh copy of the signed index; each batch is one
        operation."""
        from sems_event_deduplication_spark.operators.incremental import (
            append_to_index, incremental_dedup, load_index,
        )
        from sems_event_deduplication_spark.operators.strategies import (
            release_gated_broadcasts,
        )
        from sems_event_deduplication_spark.sources.warehouse import WarehouseIO

        root = self.work / f"ingest_wh_{i}"
        shutil.rmtree(root, ignore_errors=True)
        shutil.copytree(self.index_dir, root / "signatures")
        wh = WarehouseIO(self.spark, str(root))
        batch_s, released, increments = [], 0, 0
        rnd = Round(0.0, 0, batch_s, ops=0)
        tp = n_found = n_expected = n_novel = 0
        schedule = self.inputs.batch_paths[:n_batches]
        for b, path in enumerate(schedule):
            batch = self.spark.read.parquet(path)
            increments += _committed_increments(root / "signatures__inc")
            with Stopwatch() as sw, _span(tr, "operators.incremental.batch"):
                with _span(tr, "sources.warehouse.load"):
                    index = load_index(wh)
                with _span(tr, "operators.incremental.probe"):
                    out = incremental_dedup(batch, index, self.cfg)
                    if tr is not None:
                        # commit the persisted probe outputs inside this span
                        out["exact_hits"].count()
                        out["neardup_hits"].count()
                with _span(tr, "sources.warehouse.commit"):
                    hits = out["exact_hits"].select("id_new", "id_indexed").unionByName(
                        out["neardup_hits"].select("id_new", "id_indexed")
                    )
                    wh.save(hits, f"hits/batch={b}")
                with _span(tr, "operators.incremental.append"):
                    append_to_index(out["novel"], wh, batch_id=str(b))
                with _span(tr, "operators.strategies.release"):
                    released += release_gated_broadcasts()
            batch_s.append(sw.wall_s)
            rnd.cpu_s += sw.cpu_s
            rnd.ops += 1
            # checks, untimed: hits against planted truth
            found = {r["id_new"] for r in wh.load(f"hits/batch={b}").select("id_new").collect()}
            expected = self.inputs.expected_hits[b]
            hit = len(found & expected)
            errors = len(rnd.errors)
            if hit < MIN_RECALL * len(expected):
                rnd.fail(f"batch {b}: {hit}/{len(expected)} planted dups found")
            if hit < MIN_PRECISION * len(found):
                rnd.fail(f"batch {b}: {len(found) - hit} of {len(found)} hits not planted")
            rnd.failed_ops += len(rnd.errors) > errors
            tp, n_found, n_expected = tp + hit, n_found + len(found), n_expected + len(expected)
            n_novel += self.inputs.batch_rows[b] - len(found)
            rnd.prints.append((len(found), stable_hash(sorted(found))))
        rnd.wall_s = sum(batch_s)
        rnd.records = sum(self.inputs.batch_rows[:len(schedule)])
        rnd.recall = tp / n_expected if n_expected else 1.0
        rnd.precision = tp / n_found if n_found else 1.0
        final = fingerprint(load_index(wh), ["clip_id"])
        if final[0] != self.n_index + n_novel:
            rnd.fail(f"index holds {final[0]} rows, expected {self.n_index + n_novel}")
        if len(schedule) == len(self.inputs.batch_paths):
            rnd.prints.append(final)
        rnd.layers = {"incremental.increments_read": increments,
                      "strategies.released_frames": released}
        shutil.rmtree(root, ignore_errors=True)
        return rnd


def _committed_increments(inc_root: Path) -> int:
    """Committed ``append_to_index`` increments (``batch=*/_SUCCESS``)
    that ``load_index`` would union, read from the warehouse directory
    the program wrote."""
    if not inc_root.is_dir():
        return 0
    return sum((d / "_SUCCESS").exists() for d in inc_root.glob("batch=*"))


class _Progress:
    """Micro-batch progress of named streaming queries, collected by a
    ``StreamingQueryListener``."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        progress, names, done = {}, {}, set()

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                names[str(event.id)] = event.name

            def onQueryProgress(self, event):
                progress.setdefault(event.progress.name, []).append(event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                done.add(names.get(str(event.id)))

        self.progress, self.done = progress, done
        self.listener = Listener()
        spark.streams.addListener(self.listener)

    def wait(self, name: str, timeout_s: float = 10.0) -> list:
        deadline = time.monotonic() + timeout_s
        while name not in self.done and time.monotonic() < deadline:
            time.sleep(0.05)
        return self.progress.get(name, [])


class StreamNeardup(_Workload):
    name = "stream_neardup"
    unit = "events"
    SCHEMA = "clip_id STRING, ts TIMESTAMP, transcript STRING"

    def setup(self) -> None:
        self.inputs = I.stream_inputs(self.spark, self.work, self.seed, self.size)
        self.progress = _Progress(self.spark)

    def _drain(self, src: str, name: str, tr=None) -> Stopwatch:
        from sems_event_deduplication_spark.streaming.stream_dedup import (
            run_stream_to_memory, streaming_neardup_join_candidates,
        )

        stream = (
            self.spark.readStream.schema(self.SCHEMA)
            .option("maxFilesPerTrigger", 1).json(src)
        )
        with Stopwatch() as sw, _span(tr, "streaming.stream_dedup") as drain:
            run_stream_to_memory(streaming_neardup_join_candidates(stream), name, "append")
        if tr is not None:
            self._trigger_spans(tr, drain["id"], self.progress.wait(name))
        return sw

    # micro-batch phases in the order a trigger runs them
    PHASES = ["latestOffset", "walCommit", "queryPlanning", "getBatch", "addBatch",
              "commitOffsets"]

    def _trigger_spans(self, tr, parent: int, progress: list) -> None:
        """Child spans of the drain from the listener's per-trigger
        durations: one per trigger, and under it one per phase, laid end
        to end from the trigger's start."""
        from datetime import datetime

        for p in progress:
            start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
            d = p.durationMs
            trig = tr.add("streaming.trigger", start,
                          start + d.get("triggerExecution", 0) / 1000.0, parent,
                          batch_id=p.batchId, rows=p.numInputRows)
            t = start
            for phase in self.PHASES:
                if d.get(phase):
                    tr.add(f"streaming.trigger.{phase}", t, t + d[phase] / 1000.0, trig["id"])
                    t += d[phase] / 1000.0

    def warm(self) -> Round:
        """A drain of a copy of the stream's first files: every trigger
        runs the same jobs, so a prefix warms them for less than a drain
        costs. The stream spans less event time than the watermark
        delay, so no state is evicted and the prefix's pairs are the
        full drain's pairs among its events."""
        return self.round("warm", prefix=True)

    def round(self, i, tr=None, prefix: bool = False) -> Round:
        inp = self.inputs
        name = f"perfbench_stream_{i}"
        sw = self._drain(inp.warm_path if prefix else inp.path, name, tr)
        prog = [p for p in self.progress.wait(name) if p.numInputRows > 0]
        found = {
            (r["id_a"], r["id_b"])
            for r in self.spark.table(name).select("id_a", "id_b").distinct().collect()
        }
        self.spark.catalog.dropTempView(name)
        n_events = len(inp.warm_ids) if prefix else inp.n_events
        rnd = Round(sw.wall_s, n_events,
                    [p.durationMs.get("triggerExecution", 0) / 1000.0 for p in prog], sw.cpu_s)
        planted = {(a, b) for a, b in inp.planted
                   if not prefix or (a in inp.warm_ids and b in inp.warm_ids)}
        hit = len(found & planted)
        rnd.recall = hit / len(planted)
        rnd.precision = hit / len(found) if found else 1.0
        if rnd.recall < MIN_RECALL:
            rnd.fail(f"{hit}/{len(planted)} planted pairs found")
        if rnd.precision < MIN_PRECISION:
            rnd.fail(f"{len(found) - hit} of {len(found)} pairs not planted")
        early = sorted((a, b) for a, b in found if a in inp.warm_ids and b in inp.warm_ids)
        rnd.prints = [(len(early), stable_hash(early))]
        if not prefix:
            rnd.prints.append((len(found), stable_hash(sorted(found))))
        if sum(p.numInputRows for p in prog) != n_events:
            rnd.fail("micro-batches did not read every event exactly once")

        def p50(key):
            return median([p.durationMs.get(key, 0) for p in prog]) if prog else 0.0

        states = [op for p in prog for op in p.stateOperators]
        rnd.layers = {
            "stream.trigger_ms_p50": p50("triggerExecution"),
            "stream.add_batch_ms_p50": p50("addBatch"),
            "stream.commit_ms_p50": p50("commitOffsets"),
            "stream.state_rows": max((s.numRowsTotal for s in states), default=0),
            "stream.state_memory_bytes": max((s.memoryUsedBytes for s in states), default=0),
            "stream.extra_pairs": len(found) - hit,
        }
        return rnd


WORKLOADS = {w.name: w for w in (AudioBatch, TextSyndication, IncrementalIngest, StreamNeardup)}
