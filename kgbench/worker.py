"""The Spark side of one benchmark run, in a process of its own.

``run.py`` starts this module with a JSON config, samples its process
tree's memory, bounds its time and reaps whatever it leaves behind. The
worker starts one ``local[nproc]`` session, sets up, and then either

* (untraced) runs ``pipeline.run_pipeline`` builds back to back, closed
  loop with one client, until the measuring window has passed (at least
  one build; the first is the cold build), or
* (traced) runs a warm-up build, one warm pipelined build, and then the
  same stages composed serially in ``run_pipeline``'s order, traced: one
  Spark job group per layer, spans held in memory, the event log on.

Results go to the config's ``result`` file after every step, so a run cut
by the time limit still reports the builds it finished.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

from kgbench import procfs
from kgbench.digest import spark_digest
from kgbench.trace import Tracer, event_log_by_group

MENTIONS_PER_DOC = 3  # the DuckDB twin's fixed setting


class Worker:
    def __init__(self, cfg: dict):
        self.cfg = cfg
        self.out: dict = {"builds": [], "marks": {}}
        self.spark = None
        self.t0 = time.perf_counter()

    def mark(self, name: str) -> None:
        """Record when a phase ended, in seconds since the worker started."""
        self.out["marks"][name] = time.perf_counter() - self.t0
        self.save()

    def save(self) -> None:
        tmp = self.cfg["result"] + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.out, f)
        os.replace(tmp, self.cfg["result"])

    # -- session and set-up -------------------------------------------------

    def start(self, event_log: str | None) -> None:
        from wikidata_to_cidoc_crm_spark.session import get_spark

        conf = {
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.cfg['tmp']} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(self.cfg["run_dir"], "warehouse"),
        }
        if event_log:
            os.makedirs(event_log)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": "file://" + event_log,
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.rolling.enabled": "false"})
        cores = self.cfg["cores"]
        t0 = time.perf_counter()
        self.spark = get_spark("kgbench", cores=cores, shuffle_partitions=cores,
                               extra_conf=conf)
        self.out["session_start_s"] = time.perf_counter() - t0
        self.mark("session")

    def populate(self) -> None:
        """Fill the run's (empty) world cache, which the builds then read."""
        from wikidata_to_cidoc_crm_spark.fixtures import make_world_scaled, world_to_spark

        os.environ["SPARK_GRAFT_WORLD_CACHE"] = os.path.join(self.cfg["run_dir"], "world")
        t0 = time.perf_counter()
        world_to_spark(self.spark, make_world_scaled(self.cfg["world_scale"]))
        self.out["populate_s"] = time.perf_counter() - t0
        self.mark("populated")

    # -- the program's own entry point --------------------------------------

    def build(self, last=lambda: False) -> bool:
        """One ``run_pipeline`` build, timed from the call to the final
        ``count()`` plus ``wait()``; the digest is taken after the clock
        stops. ``last()`` says whether no build follows; the answer is
        returned and, when true, marks the end of the timed part."""
        from wikidata_to_cidoc_crm_spark.pipeline import run_pipeline

        rec: dict = {"ok": False}
        self.out["builds"].append(rec)
        self.save()
        pid = os.getpid()
        cpu0 = procfs.cpu_seconds(pid)
        t0 = time.perf_counter()
        try:
            out = run_pipeline(self.spark, self.cfg["input_dir"],
                               mentions_per_doc=MENTIONS_PER_DOC,
                               world_scale=self.cfg["world_scale"])
            rec["triples"] = out.count()
            out._pipeline_runner.wait()
        except Exception:  # a raised build is a failed build, not a crash
            rec["error"] = traceback.format_exc(limit=4)
            out = None
        else:
            rec["build_s"] = time.perf_counter() - t0
            rec["cpu_s"] = procfs.cpu_seconds(pid) - cpu0
        done = last()
        if done:
            self.mark("timed_done")
        if out is not None:
            rec["digest"] = spark_digest(out)
            rec["ok"] = True
        self.save()
        return done

    def untraced(self) -> None:
        """Closed loop, one client: builds back to back until the window
        of ``seconds`` since the first one began has passed."""
        self.start(event_log=None)
        self.populate()
        t_first = time.perf_counter()
        while not self.build(lambda: time.perf_counter() - t_first >= self.cfg["seconds"]):
            pass

    # -- traced run -----------------------------------------------------------

    def traced(self) -> None:
        evlog = os.path.join(self.cfg["run_dir"], "eventlog")
        self.start(event_log=evlog)
        self.populate()
        self.build()                                 # warm-up (cold JVM)
        self.mark("warm_up")
        self.build()                                 # warm, pipelined
        self.mark("pipelined")
        tracer = Tracer(self.spark.sparkContext)
        t0 = time.perf_counter()
        final, stats, refs = compose(self.spark, self.cfg, tracer)
        self.out["serial"] = {"wall_s": time.perf_counter() - t0,
                              "hook_s": tracer.hook_s,
                              "digest": spark_digest(final), "layers": stats}
        self.mark("serial")
        self.out["extras"] = ratios_and_sinks(self.spark, self.cfg, tracer, final, refs)
        self.mark("timed_done")
        self.spark.stop()
        self.spark = None
        self.mark("stopped")
        tracer.write(self.cfg["trace_out"], {"workload": self.cfg["workload"],
                                             "seed": self.cfg["seed"]})
        self.out["groups"] = event_log_by_group(evlog)
        self.save()


def _materialize(df, name: str, tracer: Tracer):
    """Truncate lineage and execute, as ``StageRunner`` does in memory."""
    from wikidata_to_cidoc_crm_spark.session import lazy_checkpoint

    with tracer.span(name + ".exec"):
        df = lazy_checkpoint(df)
        return df, df.count()


def compose(spark, cfg: dict, tracer: Tracer):
    """``run_pipeline``'s stages called one after another, each layer timed
    as plan (until its function returns its DataFrames) and exec.

    Returns the final triples, per-layer stats and the intermediate frames
    the waste ratios need."""
    from wikidata_to_cidoc_crm_spark.fixtures import (interleaved_corpus,
                                                      make_world_scaled,
                                                      world_to_spark)
    from wikidata_to_cidoc_crm_spark.invariants import assert_span_invariant
    from wikidata_to_cidoc_crm_spark.linking import detect_mentions, linked_qids
    from wikidata_to_cidoc_crm_spark.plans.align import align_stage
    from wikidata_to_cidoc_crm_spark.plans.authors import authors_stage
    from wikidata_to_cidoc_crm_spark.plans.canonicalize import canonicalize_stage
    from wikidata_to_cidoc_crm_spark.plans.merge import merge_stage
    from wikidata_to_cidoc_crm_spark.plans.relations import (LABEL_BROADCAST_MAX,
                                                             relations_stage)
    from wikidata_to_cidoc_crm_spark.plans.works import works_stage

    stats: dict[str, dict] = {}
    docs_path = os.path.join(cfg["input_dir"], "documents.parquet")

    def layer(name, plan):
        """Run ``plan`` under the layer's span and job group, then execute
        each DataFrame it returns."""
        with tracer.span(name, job_group=name):
            t0 = time.perf_counter()
            with tracer.span(name + ".plan"):
                dfs = plan()
            t1 = time.perf_counter()
            done = [_materialize(df, name, tracer) for df in dfs]
            stats[name] = {"plan_s": t1 - t0, "exec_s": time.perf_counter() - t1,
                           "rows": [n for _, n in done]}
        return [df for df, _ in done]

    with tracer.span("pipeline"):
        with tracer.span("fixtures.world", job_group="fixtures.world"):
            t0 = time.perf_counter()
            dims = world_to_spark(spark, make_world_scaled(cfg["world_scale"]))
            for name in ("wd_statements", "wd_labels", "wd_subclass_closure",
                         "wd_property_closure", "wd_entities"):
                dims[name].cache()
            bcast = dims["wd_labels"].count() <= LABEL_BROADCAST_MAX
            stats["fixtures.world"] = {"world_s": time.perf_counter() - t0}
        ents, st, lab = dims["wd_entities"], dims["wd_statements"], dims["wd_labels"]
        (corpus,) = layer("fixtures.corpus", lambda: [interleaved_corpus(
            spark, docs_path, ents, mentions_per_doc=MENTIONS_PER_DOC)])
        docs = corpus.select("doc_id", "spans")
        with tracer.span("invariants", job_group="invariants"):
            assert_span_invariant(corpus.select("doc_id", "spans"), docs)

        def link():
            m = detect_mentions(spark, docs, ents)
            return [m, linked_qids(m, ents, "person"), linked_qids(m, ents, "work")]

        _, persons, works = layer("linking", link)
        (authors_t,) = layer("plans.authors", lambda: [authors_stage(
            spark, persons, st, lab, dedupe=True, broadcast_labels=bcast)])
        (works_t,) = layer("plans.works", lambda: [works_stage(
            spark, works, st, lab, dedupe=True, broadcast_labels=bcast)])
        (relations_t,) = layer("plans.relations", lambda: [relations_stage(
            spark, works, st, lab, dims["wd_subclass_closure"],
            dims["wd_property_closure"], dedupe=True, broadcast_labels=bcast)])
        (merged,) = layer("plans.merge", lambda: [merge_stage(
            spark, [authors_t, works_t, relations_t])])
        (canonical,) = layer("plans.canonicalize", lambda: [canonicalize_stage(
            spark, merged)])
        (aligned,) = layer("plans.align", lambda: [align_stage(
            spark, canonical, dims["wd_external_ids"])])
    refs = {"corpus": corpus, "works": works, "dims": dims, "bcast": bcast}
    return aligned, stats, refs


def ratios_and_sinks(spark, cfg: dict, tracer: Tracer, final, refs: dict) -> dict:
    """Untimed counts for the waste ratios, and a traced round trip of the
    final graph through ``sources.sinks`` (the stage-table writer and
    reader ``StageRunner`` uses with a checkpoint dir)."""
    from pyspark.sql import functions as F

    from wikidata_to_cidoc_crm_spark.plans.relations import relations_stage
    from wikidata_to_cidoc_crm_spark.sources.sinks import (read_triples_table,
                                                           write_triples)

    spark.sparkContext.setJobGroup("extras", "extras")
    text_spans = (refs["corpus"].select(F.explode("spans").alias("s"))
                  .filter(F.col("s.kind") == "text").count())
    dims = refs["dims"]
    emitted = relations_stage(
        spark, refs["works"], dims["wd_statements"], dims["wd_labels"],
        dims["wd_subclass_closure"], dims["wd_property_closure"],
        dedupe=False, broadcast_labels=refs["bcast"]).count()
    path = os.path.join(cfg["run_dir"], "sink", "final")
    with tracer.span("sources.sinks", job_group="sources.sinks"):
        t0 = time.perf_counter()
        with tracer.span("sources.sinks.write"):
            target = write_triples(final, "final", path)
        t1 = time.perf_counter()
        with tracer.span("sources.sinks.read"):
            back = read_triples_table(spark, target)
            back_rows = back.count()
        t2 = time.perf_counter()
    files = [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
             if not f.startswith((".", "_"))]
    return {
        "text_spans": text_spans,
        "relations_emitted": emitted,
        "sink_write_s": t1 - t0,
        "sink_read_s": t2 - t1,
        "sink_bytes": sum(os.path.getsize(f) for f in files),
        "sink_files": len(files),
        "sink_rows": back_rows,
        "sink_digest": spark_digest(back),
    }


def main() -> None:
    cfg = json.loads(sys.argv[1])
    w = Worker(cfg)
    try:
        w.traced() if cfg["trace"] else w.untraced()
    finally:
        if w.spark is not None:
            w.spark.stop()
            w.mark("stopped")


if __name__ == "__main__":
    main()
