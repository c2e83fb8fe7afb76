"""The two workloads.  Each one makes its input from the seed (set-up),
runs one job per call through the engine's public functions, and checks
a job's outputs against single-node oracles after the timed window.

Sizes keep a whole run (session start, set-up, one cold job, oracles)
near 40 s on a 4-core box, so a campaign of 48 runs fits well inside an
hour: both workloads are dominated by per-Spark-job fixed cost, not by
data volume (see README.md).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from grandiso_networkx_spark.checkpoint import CheckpointManager
from grandiso_networkx_spark.graph import HostGraph
from grandiso_networkx_spark.operators.components import connected_components
from grandiso_networkx_spark.operators.derive import derive_edges, derive_host_graph
from grandiso_networkx_spark.operators.label_propagation import label_propagation
from grandiso_networkx_spark.operators.match import find_motifs_df
from grandiso_networkx_spark.operators.pagerank import pagerank
from grandiso_networkx_spark.operators.triangles import triangle_count
from grandiso_networkx_spark.plans.motif import Motif, compile_plan
from grandiso_networkx_spark.sources.rmat import rmat_edges
from grandiso_networkx_spark.sources.tables import read_transcripts, write_transcripts
from grandiso_networkx_spark.sources.transcripts import synth_transcripts

import oracles

# transcript_pipeline: ~34k turns (mean ~17 turns per conversation).
N_CONVS = 2_000
# rmat_graph: 2^10 vertices, ~7k simple edges.
RMAT_SCALE = 10
PR_ROUNDS = 4
LPA_ROUNDS = 2
# transcript_pipeline runs PageRank to this tolerance (5 rounds on the
# derived graph) and checkpoints after round indexes 0 and 3, so the
# resume replays one round, as after an interruption late in a run.
PR_TOL = 1e-3
PR_CK_EVERY = 3
# rmat_graph seeds its hints= query at this many top out-degree hubs.
N_HUBS = 8


def _motif(*edges):
    m = Motif(directed=True)
    for u, v in edges:
        m.add_edge(u, v)
    return m


TWO_PATH = _motif(("a", "b"), ("b", "c"))
THREE_CYCLE = _motif(("a", "b"), ("b", "c"), ("c", "a"))


def _rows(df, key, val):
    return {r[key]: r[val] for r in df.collect()}


def _fresh_dir(path):
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _dir_bytes(path):
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _frontier_rows(ck_path):
    return sum(r["rows"] for r in CheckpointManager(None, ck_path).manifest["rounds"])


class Workload:
    name = ""
    ops = ()
    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.span = ctx.tracer.span

    def layer_counts(self, out):
        return {}

    def extras(self):
        """Untimed traced-run measurements taken after the window."""
        return {}

    def release(self):
        pass


class TranscriptPipeline(Workload):
    name = "transcript_pipeline"
    ops = ("read", "derive", "graph", "pagerank", "resume", "components")

    def setup_input(self, rep):
        self.path = os.path.join(self.ctx.run_dir, "transcripts")
        df = synth_transcripts(self.spark, n_convs=N_CONVS, seed=self.ctx.seed)
        write_transcripts(df, self.path, partitions=self.ctx.nproc)

    def job(self, run_id):
        spark, span, out = self.spark, self.span, {}
        with span("sources.read"):
            tx = read_transcripts(spark, self.path)
            out["read"] = tx.count()
        with span("derive"):
            out["derive"] = {
                (r["src"], r["dst"], r["etype"]): r["weight"]
                for r in derive_edges(tx).collect()
            }
        with span("graph"):
            hg = derive_host_graph(tx)
            hg.edges = hg.edges.persist()
            out["graph"] = {
                (r["src"], r["dst"]): int(r["w"])
                for r in hg.edges.select("src", "dst", F.col("attrs")["weight"].alias("w")).collect()
            }
        ck = _fresh_dir(os.path.join(self.ctx.run_dir, "ck", run_id))

        def checkpointed_pagerank(span_name):
            # The second call finds the first one's checkpoint and resumes.
            its = []
            with span(span_name) as s:
                ranks = _rows(
                    pagerank(
                        hg.edges,
                        tol=PR_TOL,
                        checkpoint=CheckpointManager(spark, ck, "pagerank"),
                        checkpoint_every=PR_CK_EVERY,
                        iter_seconds=its,
                    ),
                    "id",
                    "rank",
                )
            s["iter_seconds"] = its
            return ranks, s

        out["pagerank"], _ = checkpointed_pagerank("pagerank")
        out["resume"], s = checkpointed_pagerank("checkpoint")
        s["bytes"] = _dir_bytes(ck)
        s["rounds_saved"] = len(CheckpointManager(spark, ck).manifest["rounds"])
        with span("components"):
            out["components"] = _rows(connected_components(hg.edges), "id", "component")
        hg.edges.unpersist()
        return out

    def pagerank_edges(self, out):
        return len(out["graph"])

    def layer_counts(self, out):
        return {"derive.turns_in": out["read"], "derive.edges_out": len(out["derive"])}

    def expected(self):
        tmp = _fresh_dir(os.path.join(self.ctx.run_dir, "duck"))
        n_turns, derived, simple = oracles.derive_replay(self.path, tmp)
        edges = sorted(simple)
        return {
            "read": n_turns,
            "derive": derived,
            "graph": simple,
            "pagerank": oracles.pagerank(edges, tol=PR_TOL),
            "components": oracles.components(edges),
        }

    def check(self, out, want):
        return {
            "read": out["read"] == want["read"],
            "derive": out["derive"] == want["derive"],
            "graph": out["graph"] == want["graph"],
            "pagerank": oracles.ranks_match(out["pagerank"], want["pagerank"]),
            # The resumed run must land exactly where the uninterrupted
            # one did.
            "resume": oracles.ranks_match(out["resume"], out["pagerank"], rtol=1e-12, atol=0.0),
            "components": out["components"] == want["components"],
        }


class RmatGraph(Workload):
    name = "rmat_graph"
    ops = ("pagerank", "lpa", "triangles", "two_path", "three_cycle", "hints")

    def setup_input(self, rep):
        if rep:
            self.edges.unpersist()
        e = rmat_edges(self.spark, scale=RMAT_SCALE, seed=self.ctx.seed)
        self.edges = (
            e.where(F.col("src") != F.col("dst")).dropDuplicates(["src", "dst"]).persist()
        )
        self.n_edges = self.edges.count()
        top = self.edges.groupBy("src").count().orderBy(F.desc("count"), "src").limit(N_HUBS)
        self.hubs = [r["src"] for r in top.collect()]

    def job(self, run_id):
        e, span, out = self.edges, self.span, {}
        its = []
        with span("pagerank") as s:
            out["pagerank"] = _rows(
                pagerank(e, fixed_iterations=PR_ROUNDS, iter_seconds=its), "id", "rank"
            )
        s["iter_seconds"] = its
        with span("lpa"):
            out["lpa"] = _rows(label_propagation(e, max_iter=LPA_ROUNDS), "id", "label")
        with span("triangles"):
            out["triangles"] = triangle_count(e)
        with span("graph"):
            hg = HostGraph(e)
            hg.adjacency_deg.count()
        with span("plan"):
            compile_plan(TWO_PATH)
            compile_plan(THREE_CYCLE)
            compile_plan(THREE_CYCLE, ("a",))
        hints = [{"a": h} for h in self.hubs]
        for op, motif, kw in (
            ("two_path", TWO_PATH, {}),
            ("three_cycle", THREE_CYCLE, {}),
            ("hints", THREE_CYCLE, {"hints": hints}),
        ):
            with span("match." + op) as s:
                s["matches"] = out[op] = find_motifs_df(motif, hg, **kw).count()
        hg.unpersist()
        return out

    def pagerank_edges(self, out):
        return self.n_edges

    def layer_counts(self, out):
        return {
            "triangles.count": out["triangles"],
            "match.matches": out["two_path"] + out["three_cycle"] + out["hints"],
        }

    def extras(self):
        hg = HostGraph(self.edges)
        ck = _fresh_dir(os.path.join(self.ctx.run_dir, "ck", "match"))
        n = find_motifs_df(
            THREE_CYCLE,
            hg,
            hints=[{"a": h} for h in self.hubs],
            checkpoint=CheckpointManager(self.spark, ck),
        ).count()
        hg.unpersist()
        return {"match.useful_ratio": n / max(1, _frontier_rows(ck))}

    def release(self):
        self.edge_list = [(r["src"], r["dst"]) for r in self.edges.collect()]

    def expected(self):
        edges = self.edge_list
        tmp = _fresh_dir(os.path.join(self.ctx.run_dir, "duck"))
        c = oracles.graph_counts(edges, self.hubs, tmp)
        self.identity_ok = c["sum_in_out"] - 2 * c["reciprocal_pairs"] == c["two_paths"]
        return {
            "pagerank": oracles.pagerank(edges, fixed_iterations=PR_ROUNDS),
            "lpa": oracles.label_propagation(edges, LPA_ROUNDS),
            "triangles": c["triangles"],
            "two_path": c["two_paths"],
            "three_cycle": c["three_cycles"],
            "hints": c["hub_cycles"],
        }

    def check(self, out, want):
        res = {
            "pagerank": oracles.ranks_match(out["pagerank"], want["pagerank"]),
            "lpa": out["lpa"] == want["lpa"],
        }
        for k in ("triangles", "two_path", "three_cycle", "hints"):
            res[k] = out[k] == want[k]
        # Sum over v of in(v)*out(v), less the two 2-paths each
        # reciprocal pair closes on itself, must equal the 2-path count.
        res["two_path"] = res["two_path"] and self.identity_ok
        return res


WORKLOADS = {w.name: w for w in (TranscriptPipeline, RmatGraph)}
