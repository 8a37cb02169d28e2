"""Seeded, single-process generator for the benchmark's `events` table.

Writes `<out_dir>/events.parquet` with the committed schema
`event_id, ts, user_id, event_type, value, props`, following the
distribution of the committed sf tables:

- every event belongs to a user drawn uniformly, so events per user are
  multinomial (median ~66, range ~45-99 at 66.7 events per user);
- 5 event types, uniform;
- `ts` uniform over 30 days from 2024-01-01, `event_id` in `ts` order;
- `value` exponential with mean 50 (2 decimals), `props` = {"k": 0..99}.

The event count is fixed per size, so every seed yields the same vertex
count (events + 5 roles + 3 tools); the edge count varies by a few
tenths of a percent with the seed.

    python3 perfbench/gen.py --size small --seed 1 --out DIR [--check]
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# size -> (users, events): the shapes of the committed sf0.01 / sf0.1
SIZES = {"tiny": (6, 400), "small": (150, 10_000), "large": (1_500, 100_000)}
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in microseconds
SPAN_US = 30 * 86_400 * 1_000_000

# committed graph shapes the self-check compares against
# (size -> (vertices, edges) of sf0.01 / sf0.1)
REFERENCE_SHAPE = {"small": (10_008, 15_325), "large": (100_008, 152_827)}


def events_table(size: str, seed: int) -> pa.Table:
    users, n = SIZES[size]
    rng = np.random.default_rng(seed)
    ts = np.sort(rng.integers(0, SPAN_US, n)) + T0_US
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
            "event_type": pa.array(
                np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)]
            ),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def write_events(size: str, seed: int, out_dir: str) -> str:
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "events.parquet")
    pq.write_table(events_table(size, seed), path)
    return out_dir


def graph_shape(table: pa.Table) -> tuple[int, int]:
    """(vertices, edges) that graph/derive.py yields for this events
    table, computed in plain Python: turns + roles + tools as vertices;
    reply, mention, uses and copart edges (derive.py's four families)."""
    role_of = {"click": "user", "view": "assistant", "signup": "system",
               "purchase": "agent_0"}
    tool_of = {"click": "search", "purchase": "sql", "error": "code"}
    cols = table.to_pydict()
    seq: dict[int, int] = {}
    convs: set = set()
    roles, tools, uses = set(), set(), set()
    conv_roles: dict = {}
    conv_tools: dict = {}
    mentions = 0
    order = sorted(range(table.num_rows),
                   key=lambda i: (cols["user_id"][i], cols["ts"][i], cols["event_id"][i]))
    for i in order:
        u = cols["user_id"][i]
        k = seq.get(u, 0)
        seq[u] = k + 1
        conv = (u, k // 16)
        convs.add(conv)
        etype = cols["event_type"][i]
        role = role_of.get(etype, "agent_1")
        tool = tool_of.get(etype)
        roles.add(role)
        conv_roles.setdefault(conv, set()).add(role)
        if tool is not None:
            tools.add(tool)
            mentions += 1
            uses.add((role, tool))
            conv_tools.setdefault(conv, set()).add(tool)
    copart = {(r, t) for c, ts in conv_tools.items() for r in conv_roles[c] for t in ts}
    vertices = table.num_rows + len(roles) + len(tools)
    edges = (table.num_rows - len(convs)) + mentions + len(uses) + len(copart)
    return vertices, edges


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--size", choices=sorted(SIZES), default="small")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--out", required=True)
    ap.add_argument("--check", action="store_true",
                    help="print the derived graph shape next to the committed one")
    args = ap.parse_args()
    write_events(args.size, args.seed, args.out)
    if args.check:
        v, e = graph_shape(pq.read_table(os.path.join(args.out, "events.parquet")))
        print(f"{args.size} seed={args.seed}: {v} vertices, {e} edges; "
              f"committed {REFERENCE_SHAPE.get(args.size)}")


if __name__ == "__main__":
    main()
