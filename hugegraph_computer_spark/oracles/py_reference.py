"""Pure-Python oracles implementing the REFERENCE semantics exactly
(no Spark). Used by pytest to golden-check the engine per FIXTURES.md §4.

Each oracle mirrors the cited Java source line-for-line in behavior:
- pagerank: PageRank.java:68-105 + PageRank4Master.java:99-104
- wcc:      Wcc.java:47-72 (directed out-edge propagation, min combiner)
- lpa:      Lpa.java:50-101 (recipients-only vote, min-label tie-break)
- triangle: TriangleCount.java:69-195 (bothdirection SINGLE view)
- sssp:     Sssp.java fixpoint (min-distance relaxation, -1 unreached)
- kcore:    KCore.java:55-92 (peel: core=outdeg, zero + notify when <k)

Ids are Python strings; all fixture/derived ids are ASCII so Python's
string order == Java byte order (BytesId.java:224-231).
"""

from __future__ import annotations

from collections import Counter, defaultdict


def pagerank(
    nodes: list[str],
    edges: list[tuple[str, str]],
    alpha: float = 0.15,
    l1_tol: float = 1e-6,
    max_supersteps: int = 100,
) -> tuple[dict[str, float], int]:
    """Returns (rank per node, supersteps executed incl. superstep 0)."""
    n = len(nodes)
    out: dict[str, list[str]] = defaultdict(list)
    for s, d in edges:
        out[s].append(d)

    # superstep 0 (compute0)
    rank = {v: 1.0 / n for v in nodes}
    cumulative = sum(rank.values())
    dangling_cum = sum(rank[v] for v in nodes if not out[v])
    msgs: dict[str, float] = defaultdict(float)
    for v in nodes:
        if out[v]:
            c = rank[v] / len(out[v])
            for d in out[v]:
                msgs[d] += c

    s = 0
    while True:
        if s >= max_supersteps - 1:
            break
        if s > 1 and l1 <= l1_tol:  # noqa: F821 — set from s>=1 iterations
            break
        s += 1
        dangling_rank = dangling_cum / n
        teleport = alpha / n
        new_rank = {}
        l1 = 0.0
        for v in nodes:
            r = (dangling_rank + msgs.get(v, 0.0)) * (1.0 - alpha) + teleport
            r /= cumulative
            l1 += abs(rank[v] - r)
            new_rank[v] = r
        rank = new_rank
        cumulative = sum(rank.values())
        dangling_cum = sum(rank[v] for v in nodes if not out[v])
        msgs = defaultdict(float)
        for v in nodes:
            if out[v]:
                c = rank[v] / len(out[v])
                for d in out[v]:
                    msgs[d] += c
    return rank, s + 1


def wcc(nodes: list[str], edges: list[tuple[str, str]]) -> dict[str, str]:
    out: dict[str, list[str]] = defaultdict(list)
    for s, d in edges:
        out[s].append(d)
    # superstep 0
    comp = {v: min([v] + out[v]) for v in nodes}
    msgs: dict[str, str] = {}
    for v in nodes:
        for d in out[v]:
            if comp[v] < d:  # sendMessageToAllEdgesIf(value < target)
                msgs[d] = min(msgs[d], comp[v]) if d in msgs else comp[v]
    while msgs:
        new_msgs: dict[str, str] = {}
        for v, m in msgs.items():
            if m < comp[v]:
                comp[v] = m
                for d in out[v]:  # rebroadcast to ALL out-edges
                    new_msgs[d] = min(new_msgs[d], m) if d in new_msgs else m
        msgs = new_msgs
    return comp


def lpa(
    nodes: list[str], edges: list[tuple[str, str]], max_supersteps: int = 10
) -> dict[str, str]:
    out: dict[str, list[str]] = defaultdict(list)
    for s, d in edges:
        out[s].append(d)
    label = {v: v for v in nodes}
    # superstep 0: everyone broadcasts
    inbox: dict[str, list[str]] = defaultdict(list)
    for v in nodes:
        for d in out[v]:
            inbox[d].append(label[v])
    for _s in range(1, max_supersteps):
        if not inbox:
            break
        new_inbox: dict[str, list[str]] = defaultdict(list)
        for v, incoming in inbox.items():
            freq = Counter(incoming)
            max_freq = max(freq.values())
            label[v] = min(l for l, c in freq.items() if c == max_freq)
            for d in out[v]:
                new_inbox[d].append(label[v])
        inbox = new_inbox
    return label


def triangle_count(
    nodes: list[str], edges: list[tuple[str, str]]
) -> dict[str, int]:
    nbrs: dict[str, set[str]] = defaultdict(set)
    for s, d in edges:
        if s != d:
            nbrs[s].add(d)
            nbrs[d].add(s)
    counts = {}
    for v in nodes:
        lower_of = 0
        for u in nbrs[v]:
            lower_of += sum(1 for w in nbrs[u] if w < u and w in nbrs[v])
        counts[v] = lower_of
    return counts


def sssp(
    nodes: list[str],
    edges: list[tuple[str, str, float]],
    source: str,
) -> dict[str, float]:
    """Min-distance fixpoint along directed weighted edges; -1 unreached."""
    out: dict[str, list[tuple[str, float]]] = defaultdict(list)
    for s, d, w in edges:
        out[s].append((d, w))
    dist = {v: float("inf") for v in nodes}
    dist[source] = 0.0
    frontier = {source}
    while frontier:
        nxt = set()
        for v in frontier:
            for d, w in out[v]:
                nd = dist[v] + w
                if nd < dist[d]:
                    dist[d] = nd
                    nxt.add(d)
        frontier = nxt
    return {v: (dist[v] if dist[v] != float("inf") else -1.0) for v in nodes}


def kcore(
    nodes: list[str], edges: list[tuple[str, str]], k: int = 3
) -> dict[str, int]:
    """Reference peel over the directed multigraph as loaded: core starts
    at out-degree (edge records), deleted vertices notify OUT-targets."""
    out: dict[str, list[str]] = defaultdict(list)
    for s, d in edges:
        out[s].append(d)
    core = {v: len(out[v]) for v in nodes}
    alive = {v for v in nodes if core[v] >= k}
    newly = [v for v in nodes if core[v] < k]
    for v in newly:
        core[v] = 0
    while newly:
        hits: dict[str, int] = defaultdict(int)
        for v in newly:
            for d in out[v]:
                if d in alive:
                    hits[d] += 1
        newly = []
        for v, h in hits.items():
            core[v] -= h
            if core[v] < k:
                core[v] = 0
                alive.discard(v)
                newly.append(v)
    return core


def ppr(
    nodes: list[str],
    edges: list[tuple[str, str]],
    source: str,
    alpha: float = 0.85,
    max_supersteps: int = 10,
    l1_tol: float = 1e-5,
    reference_faithful: bool = False,
) -> dict[str, float]:
    """PersonalPageRank.java:96-144 semantics, recipients-ever-awake set,
    cumulative normalization over computing vertices only."""
    out: dict[str, list[str]] = defaultdict(list)
    for s_, d in edges:
        out[s_].append(d)
    rank = {v: (1.0 if v == source else 0.0) for v in nodes}
    cum = sum(rank.values())  # aggregated by every vertex in compute0
    awake = {source} if out[source] else set()
    msgs: dict[str, float] = defaultdict(float)
    if out[source]:
        c = rank[source] / len(out[source])
        for d in out[source]:
            msgs[d] += c
    s = 0
    while True:
        if s >= max_supersteps - 1:
            break
        if s > 1:
            l1_now = 0.0 if reference_faithful else l1  # noqa: F821
            if l1_now <= l1_tol:
                break
        s += 1
        computes = awake | set(msgs)
        new_rank = dict(rank)
        new_cum = 0.0
        l1 = 0.0
        for v in computes:
            r = msgs.get(v, 0.0) * alpha + (1 - alpha) * (1.0 if v == source else 0.0)
            r /= cum
            l1 += abs(rank[v] - r)
            new_rank[v] = r
            new_cum += r
        rank = new_rank
        cum = new_cum
        awake = computes
        msgs = defaultdict(float)
        for v in computes:
            if out[v]:
                c = rank[v] / len(out[v])
                for d in out[v]:
                    msgs[d] += c
    return rank


def closeness(
    nodes: list[str], edges: list[tuple[str, str, float]]
) -> dict[str, tuple[int, float]]:
    """Min in-distance maps + C(v)=sum(1/d) (ClosenessCentrality.java +
    ClosenessCentralityOutput.java:50-56). Fixpoint via relaxation."""
    out: dict[str, list[tuple[str, float]]] = defaultdict(list)
    for s_, d, w in edges:
        out[s_].append((d, w))
    dist: dict[tuple[str, str], float] = {}
    frontier = set()
    for u in nodes:
        for d, w in out[u]:
            if d == u:
                continue
            key = (d, u)
            if key not in dist or w < dist[key]:
                dist[key] = w
                frontier.add(key)
    while frontier:
        nxt = set()
        for (v, start) in frontier:
            base = dist[(v, start)]
            for d, w in out[v]:
                if d == start or d == v:
                    continue
                key = (d, start)
                nd = base + w
                if key not in dist or nd < dist[key]:
                    dist[key] = nd
                    nxt.add(key)
        frontier = nxt
    res: dict[str, tuple[int, float]] = {v: (0, 0.0) for v in nodes}
    agg: dict[str, list[float]] = defaultdict(list)
    for (v, _start), d in dist.items():
        agg[v].append(d)
    for v, ds in agg.items():
        res[v] = (len(ds), sum(1.0 / d for d in ds))
    return res


def rings(
    nodes: list[str], edges: list[tuple[str, str]], max_len: int = 10
) -> set[tuple[str, ...]]:
    """RingsDetection.java:49-118 message simulation; returns the set of
    recorded rings as tuples [start, ..., start]."""
    out: dict[str, list[str]] = defaultdict(list)
    for s_, d in edges:
        out[s_].append(d)
    frontier: list[tuple[str, tuple[str, ...]]] = []
    for u in nodes:
        for d in out[u]:
            if u <= d:
                frontier.append((d, (u,)))
    found: set[tuple[str, ...]] = set()
    hops = 1
    while hops < max_len and frontier:
        hops += 1
        nxt = []
        for dst, path in frontier:
            if dst == path[0]:
                if all(dst <= p for p in path[1:]):
                    found.add(path + (dst,))
            elif dst not in path:
                newp = path + (dst,)
                for t in out[dst]:
                    if path[0] <= t:
                        nxt.append((t, newp))
        frontier = nxt
    return found


def betweenness(
    nodes: list[str], edges: list[tuple[str, str]], max_rounds: int = 32
) -> dict[str, float]:
    """BetweennessCentrality.java:98-219 message simulation (sample=1,
    no storePerf cap) over distinct directed neighbor pairs."""
    out: dict[str, list[str]] = defaultdict(list)
    for s_, d in sorted(set(edges)):
        out[s_].append(d)
    bw = {v: 0.0 for v in nodes}
    arrived: dict[str, set[str]] = {v: {v} for v in nodes}
    frontier: list[tuple[str, tuple[str, ...]]] = [
        (d, (u,)) for u in nodes for d in out[u]
    ]
    rounds = 0
    while rounds < max_rounds and frontier:
        rounds += 1
        accepted: dict[str, list[tuple[str, ...]]] = defaultdict(list)
        for dst, seq in frontier:
            if seq[0] not in arrived[dst]:
                accepted[dst].append(seq)
        nxt = []
        for dst, seqs in accepted.items():
            per_source: dict[str, list[tuple[str, ...]]] = defaultdict(list)
            for seq in seqs:
                per_source[seq[0]].append(seq)
            for source, group in per_source.items():
                arrived[dst].add(source)
                total = len(group)
                counts: dict[str, int] = defaultdict(int)
                for seq in group:
                    for mid in seq[1:]:
                        counts[mid] += 1
                for mid, c in counts.items():
                    bw[mid] += c / total
                for seq in group:
                    newseq = seq + (dst,)
                    for t in out[dst]:
                        if t not in newseq:
                            nxt.append((t, newseq))
        frontier = nxt
    return bw


def links_paths(
    nodes: list[str],
    edges: list[tuple[str, str]],
    starts: set[str],
    ends: set[str],
    max_rounds: int = 10,
) -> set[tuple[str, ...]]:
    """Links.java:53-105 walk semantics (vertex end-conditions only)."""
    out: dict[str, list[str]] = defaultdict(list)
    for s_, d in edges:
        out[s_].append(d)
    found: set[tuple[str, ...]] = set()
    frontier: list[tuple[str, tuple[str, ...]]] = []
    for v in starts:
        if v in ends:
            found.add((v,))
            continue
        for d in out[v]:
            frontier.append((d, (v,)))
    rounds = 0
    while rounds < max_rounds and frontier:
        rounds += 1
        nxt = []
        for dst, path in frontier:
            newp = path + (dst,)
            if dst in ends:
                found.add(newp)
                continue
            for t in out[dst]:
                nxt.append((t, newp))
        frontier = nxt
    return found


def louvain(
    weighted_edges: list[tuple[str, str, float]],
    vertices: list[str],
    max_levels: int = 4,
    max_rounds_per_level: int = 12,
    min_gain: float = 1e-6,
    eps: float = 1e-12,
) -> dict[str, str]:
    """Pure-Python replay of algorithms/louvain.py's deterministic
    distributed rule (synchronous argmax-gain moves, alternating move
    direction per round, min-c_n tie-break, two-idle-round stop,
    coarsen between levels, labels = min original member id).

    Bit-exact parity argument: every edge weight in the derived graph
    is integral, so k/tot/m2/w_vc are exact doubles in ANY summation
    order; the gain formula mirrors the Spark expression's op order,
    so comparisons agree to the last ulp. Only the per-level
    modularity (used for the min_gain stop) sums non-integral terms —
    its tolerance is 1e-6, nine orders above the float noise.
    """
    from collections import defaultdict as _dd

    if max_levels <= 0:
        return {v: v for v in vertices}
    # _undirected_adj: both-direction rows, parallel edges merged,
    # self-loops dropped at level 0
    adj: dict = _dd(float)
    for s, d, w in weighted_edges:
        if s == d:
            continue
        w = 1.0 if w is None else w
        adj[(s, d)] += w
        adj[(d, s)] += w
    adj0 = dict(adj)

    def degrees(a):
        k: dict = _dd(float)
        for (s, _d), w in a.items():
            k[s] += w
        return k

    def local_move(a, max_rounds):
        k = degrees(a)
        m2 = sum(k.values())
        comm = {v: v for v in k}
        nbrs: dict = _dd(dict)
        for (s, d), w in a.items():
            if s != d:
                nbrs[s][d] = w
        total_moves = 0
        idle = 0
        for r in range(max_rounds):
            tot: dict = _dd(float)
            for v, c in comm.items():
                tot[c] += k[v]
            moves = {}
            for v in comm:
                w_vc: dict = _dd(float)
                for u, w in nbrs[v].items():
                    w_vc[comm[u]] += w
                c_v = comm[v]
                w_own = w_vc.get(c_v, 0.0)
                best_gain = best_c = None
                for c_n in sorted(w_vc):
                    if c_n == c_v:
                        continue
                    if (c_n < c_v) != (r % 2 == 0):  # alternating direction
                        continue
                    gain = (w_vc[c_n] - k[v] * tot[c_n] / m2) - (
                        w_own - k[v] * (tot[c_v] - k[v]) / m2
                    )
                    if best_gain is None or gain > best_gain:
                        best_gain, best_c = gain, c_n
                if best_gain is not None and best_gain > eps:
                    moves[v] = best_c
            if not moves:
                idle += 1
                if idle >= 2:
                    break
                continue
            idle = 0
            total_moves += len(moves)
            comm.update(moves)
        return comm, total_moves

    def q_of(member):
        k = degrees(adj0)
        m2 = sum(k.values())
        if not m2:
            return 0.0
        tot: dict = _dd(float)
        in_w: dict = _dd(float)
        for v, kv in k.items():
            tot[member[v]] += kv
        for (s, d), w in adj0.items():
            if member[s] == member[d]:
                in_w[member[s]] += w
        return sum(in_w.get(c, 0.0) / m2 - (tc / m2) ** 2 for c, tc in tot.items())

    membership: dict | None = None
    a = adj0
    prev_q = q_of({v: v for v in degrees(adj0)})
    for _level in range(max_levels):
        comm, moves = local_move(a, max_rounds_per_level)
        if membership is None:
            membership = dict(comm)
        else:
            membership = {v: comm[c] for v, c in membership.items()}
        q = q_of(membership)
        if moves == 0 or q - prev_q < min_gain:
            break
        prev_q = q
        coarse: dict = _dd(float)
        for (s, d), w in a.items():
            coarse[(comm[s], comm[d])] += w
        a = dict(coarse)

    label: dict = {}
    for v, c in membership.items():
        if c not in label or v < label[c]:
            label[c] = v
    out = {v: label[membership[v]] for v in membership}
    for v in vertices:  # isolated vertices stay singletons
        out.setdefault(v, v)
    return out
