"""Sketch sampling-failure census — calibrates SketchParams slack.

The reference measures its sketch failure probability empirically by
repeatedly sampling in-stream over runs x samples and counting failures
(/root/reference/experiment/cont_expr.cpp:22-43,60-66); its query paths
tolerate per-round sampling failure by retrying with the next sketch group.
Our analog: for a graph shape and a set of seeds, run the full Boruvka
emulation in-process (numpy only — no Spark; the kernel is the same
build_sketches/sample_group used by the distributed path) and count, per
round, how many LIVE components (components that still have cut edges)
failed to produce a valid l0 sample. The census justifies the
``extra_rounds`` slack in SketchParams.for_graph: rounds_needed must stay
<= log2(n) + extra_rounds across seeds, with failure rate per (component,
round) attempt well under the per-group failure budget.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from landscape_spark.sketch.l0 import (
    SketchParams,
    build_sketches,
    edge_code,
    sample_group,
)


@dataclass
class CensusResult:
    shape: str
    n: int
    seeds: int
    attempts: int  # live-component sampling attempts across rounds/seeds
    failures: int  # attempts that produced no valid sample
    max_rounds_used: int  # worst-case groups consumed to converge
    budget_rounds: int  # params.rounds available

    @property
    def failure_rate(self) -> float:
        return self.failures / self.attempts if self.attempts else 0.0

    def as_dict(self) -> dict:
        return {
            "shape": self.shape,
            "n": self.n,
            "seeds": self.seeds,
            "attempts": self.attempts,
            "failures": self.failures,
            "failure_rate": round(self.failure_rate, 6),
            "max_rounds_used": self.max_rounds_used,
            "budget_rounds": self.budget_rounds,
        }


def _true_components(n: int, edges: list[tuple[int, int]]) -> list[int]:
    parent = list(range(n))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return [find(v) for v in range(n)]


def census_one(
    n: int,
    edges: list[tuple[int, int]],
    seed: int,
    params: SketchParams | None = None,
    batched: bool = False,
) -> tuple[int, int, int, int]:
    """Run one seeded Boruvka emulation; return (attempts, failures,
    rounds_used, budget).

    batched=True emulates the PRODUCTION pass schedule of
    boruvka._boruvka_passes — 4 groups on the first pass, 2 thereafter, reserve
    to 1 group per pass once the remaining budget is within
    ceil(log2(live))+1 — with every group of a pass sampling the PASS-START
    component state and unions applied in group order. This measures
    worst-case group CONSUMPTION under the real schedule (which can exceed
    the classic one-group-per-round emulation), validating that the
    log2(n)+extra_rounds budget still converges."""
    params = params or SketchParams.for_graph(n, seed=seed)
    ea = np.array([a for a, _ in edges], dtype=np.int64)
    eb = np.array([b for _, b in edges], dtype=np.int64)
    codes = edge_code(ea, eb, n)
    vids = np.concatenate([ea, eb])
    cc = np.concatenate([codes, codes])
    uvids, rows = build_sketches(vids, cc, params)
    truth = _true_components(n, edges)
    incident = {int(v) for v in uvids}
    truth_size: dict[int, int] = {}
    for v in incident:
        truth_size[truth[v]] = truth_size.get(truth[v], 0) + 1
    n_true = len(truth_size)
    # comp id -> XOR-merged supernode row; labels start as vertex ids
    comp_rows = {int(v): rows[i].copy() for i, v in enumerate(uvids)}
    label = {int(v): int(v) for v in uvids}
    members: dict[int, list[int]] = {int(v): [int(v)] for v in uvids}

    def find(x: int) -> int:
        while label[x] != x:
            label[x] = label[label[x]]
            x = label[x]
        return x

    attempts = failures = 0
    rounds_used = 0
    g = 0
    first = True
    while g < params.rounds:
        if len(comp_rows) == n_true:
            break  # every sketch component equals a true component
        if batched:
            j = 4 if first else 2
            if params.rounds - g <= int(np.ceil(np.log2(max(len(comp_rows), 2)))) + 1:
                j = 1
        else:
            j = 1
        first = False
        gs = list(range(g, min(g + j, params.rounds)))
        live = sorted(comp_rows)
        mat = np.stack([comp_rows[c] for c in live])
        samples = [sample_group(mat, gg, params) for gg in gs]
        rounds_used = gs[-1] + 1
        # failure accounting on the pass's FIRST group (the guaranteed-
        # progress group; later groups sample stale pass-start state)
        ok0 = samples[0][0]
        for i, c in enumerate(live):
            ms = members[c]
            final = len(ms) == truth_size[truth[ms[0]]]
            if final:
                continue  # no cut edges: a failed sample here is CORRECT
            attempts += 1
            if not ok0[i]:
                failures += 1
        for ok, us, vs in samples:
            for i in range(len(live)):
                if not ok[i]:
                    continue
                cu, cv = find(int(us[i])), find(int(vs[i]))
                if cu == cv:
                    continue
                lo, hi = min(cu, cv), max(cu, cv)
                label[hi] = lo
                comp_rows[lo] = comp_rows[lo] ^ comp_rows[hi]
                members[lo].extend(members.pop(hi))
                del comp_rows[hi]
        g += len(gs)
    assert len(comp_rows) == n_true, "census run failed to converge in budget"
    return attempts, failures, rounds_used, params.rounds


def graph_shapes(n: int, seed: int = 0) -> dict[str, list[tuple[int, int]]]:
    """Census fixtures: path (max diameter), sparse G(n,p) (reference test
    density p=0.002, distributed_graph_test.cpp:126-147), multiples graph
    (the reference's golden 78-component fixture at n=1024)."""
    rng = np.random.default_rng(seed)
    path = [(i, i + 1) for i in range(n - 1)]
    gnp = []
    m = int(0.002 * n * (n - 1) / 2)
    seen = set()
    while len(gnp) < m:
        a, b = int(rng.integers(n)), int(rng.integers(n))
        if a == b:
            continue
        e = (min(a, b), max(a, b))
        if e not in seen:
            seen.add(e)
            gnp.append(e)
    multiples = [
        (i, j) for i in range(2, n) for j in range(2 * i, n, i)
    ]
    return {"path": path, "gnp_0.002": gnp, "multiples": multiples}


def run_census(n: int = 1024, n_seeds: int = 10) -> list[CensusResult]:
    out = []
    for shape, edges in graph_shapes(n).items():
        attempts = failures = 0
        max_rounds = 0
        budget = SketchParams.for_graph(n).rounds
        for s in range(n_seeds):
            a, f, r, b = census_one(n, edges, seed=1000 + s)
            attempts += a
            failures += f
            max_rounds = max(max_rounds, r)
        out.append(
            CensusResult(
                shape=shape,
                n=n,
                seeds=n_seeds,
                attempts=attempts,
                failures=failures,
                max_rounds_used=max_rounds,
                budget_rounds=budget,
            )
        )
    return out


def ablation_sweep(
    n: int = 1024, n_seeds: int = 8, cols_options: tuple = (2, 3, 4)
) -> list[dict]:
    """Sketch-geometry ablation (the reference's CubeSketch/CameoSketch +
    batch_factor knobs, CMakeLists.txt:57-64): for each column count,
    measure failure rate and worst-case rounds-to-converge across shapes and
    seeds. Per-update kernel work is rounds*cols bucket XORs, so the sweep
    quantifies the accuracy/ingest-cost trade the default params buy."""
    import numpy as _np

    out = []
    lg = max(1, int(_np.ceil(_np.log2(max(n, 2)))))
    for cols in cols_options:
        params_budget = lg + 8  # generous budget so the sweep can OBSERVE need
        attempts = failures = 0
        max_rounds = 0
        for shape, edges in graph_shapes(n).items():
            for s in range(n_seeds):
                p = SketchParams(
                    n=n, rounds=params_budget, cols=cols, depths=lg + 4, seed=3000 + s
                )
                a, f, r, _ = census_one(n, edges, seed=3000 + s, params=p)
                attempts += a
                failures += f
                max_rounds = max(max_rounds, r)
        out.append(
            {
                "cols": cols,
                "n": n,
                "attempts": attempts,
                "failures": failures,
                "failure_rate": round(failures / attempts, 6) if attempts else 0.0,
                "max_rounds_used": max_rounds,
                "kernel_xors_per_update": (lg + 6) * cols,
            }
        )
    return out


def variant_ablation(n: int = 1024, n_seeds: int = 6) -> list[dict]:
    """CameoSketch-vs-CubeSketch A/B (the reference's USE_CUBE build flag,
    CMakeLists.txt:57-61): same geometry, different level-assignment rule.
    cube writes every prefix level (~2x bucket XORs per update); the census
    measures whether its denser shallow levels buy a lower sampling-failure
    rate or faster convergence — the accuracy/ingest-cost trade."""
    lg = max(1, int(np.ceil(np.log2(max(n, 2)))))
    out = []
    for variant in ("cameo", "cube"):
        attempts = failures = 0
        max_rounds = 0
        for shape, edges in graph_shapes(n).items():
            for s in range(n_seeds):
                p = SketchParams(
                    n=n, rounds=lg + 8, cols=3, depths=lg + 4, seed=4000 + s,
                    variant=variant,
                )
                a, f, r, _ = census_one(n, edges, seed=4000 + s, params=p)
                attempts += a
                failures += f
                max_rounds = max(max_rounds, r)
        out.append(
            {
                "variant": variant,
                "n": n,
                "attempts": attempts,
                "failures": failures,
                "failure_rate": round(failures / attempts, 6) if attempts else 0.0,
                "max_rounds_used": max_rounds,
                "bucket_xors_per_update_per_group": 3 if variant == "cameo" else 6,
            }
        )
    return out


def level_mix_ablation(n: int = 1024, n_seeds: int = 6) -> list[dict]:
    """Full-splitmix vs fast level-hash A/B (hashing.fastmix_inplace): the
    ingest kernel spends ~29% of its time deriving per-column level hashes;
    the fast path halves that derivation. The census is the gate for
    adopting it — the sampling failure analysis only needs per-column
    geometric level distributions with negligible cross-column correlation,
    and this measures the failure rate under the REAL Boruvka loop."""
    lg = max(1, int(np.ceil(np.log2(max(n, 2)))))
    out = []
    for mix in ("splitmix", "fast"):
        attempts = failures = 0
        max_rounds = 0
        for shape, edges in graph_shapes(n).items():
            for s in range(n_seeds):
                p = SketchParams(
                    n=n, rounds=lg + 8, cols=3, depths=lg + 4, seed=6000 + s,
                    level_mix=mix,
                )
                a, f, r, _ = census_one(n, edges, seed=6000 + s, params=p)
                attempts += a
                failures += f
                max_rounds = max(max_rounds, r)
        out.append(
            {
                "level_mix": mix,
                "n": n,
                "attempts": attempts,
                "failures": failures,
                "failure_rate": round(failures / attempts, 6) if attempts else 0.0,
                "max_rounds_used": max_rounds,
            }
        )
    return out


if __name__ == "__main__":
    import json

    for r in run_census():
        print(json.dumps(r.as_dict()))
    for row in ablation_sweep():
        print(json.dumps(row))
    for row in variant_ablation():
        print(json.dumps(row))
    for row in level_mix_ablation():
        print(json.dumps(row))
