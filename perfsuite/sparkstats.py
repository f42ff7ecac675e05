"""Read Spark's own status stores from outside the program.

Two stores are read through the session's JVM handles:

* the SQL status store (``sharedState().statusStore()``): per-execution
  plan graphs and their SQL metrics (scan, shuffle, spill, broadcast,
  Python boundary, and the shingle candidate join with the task time of
  the fused stage that runs it);
* the app status store (``SparkContext.statusStore()``): job counts,
  executor task totals and the persisted RDDs (the pins).

Both are fed by the listener bus, which runs asynchronously, so every
reader drains the bus first.
"""

from __future__ import annotations

import re
from collections import defaultdict

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9,
}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")

# Join keys of the shingle candidate joins: the hash index self-join
# on ``h`` and the eval x train gram join on ``g``.
_CANDIDATE_KEYS = re.compile(r"Join \[(h|g)#\d+L?\], \[(h|g)#\d+L?\]")


def parse_metric(text: str) -> float:
    """A formatted SQL metric value in base units (bytes, seconds or a
    count).  Per-task breakdowns keep only their leading total."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _VALUE.match(text)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2), 1.0)


def drain(spark) -> None:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def _sql_store(spark):
    return spark._jsparkSession.sharedState().statusStore()


def last_execution_id(spark) -> int:
    execs = _sql_store(spark).executionsList()
    return execs.apply(execs.size() - 1).executionId() if execs.size() else -1


def job_count(spark) -> int:
    return spark.sparkContext._jsc.sc().statusStore().jobsList(None).size()


def _graph(store, exec_id):
    g = store.planGraph(exec_id)
    nodes = {}
    owner = {}  # operator id -> the whole-stage codegen cluster it is fused into
    seq = g.allNodes()
    for i in range(seq.size()):
        n = seq.apply(i)
        ms = n.metrics()
        nodes[n.id()] = (
            n.name(), n.desc(),
            [(ms.apply(j).name(), ms.apply(j).accumulatorId()) for j in range(ms.size())],
        )
        if n.name().startswith("WholeStageCodegen"):
            members = n.nodes()
            for j in range(members.size()):
                owner[members.apply(j).id()] = n.id()
    parents, children = {}, defaultdict(list)
    es = g.edges()
    for i in range(es.size()):
        e = es.apply(i)
        parents[e.fromId()] = e.toId()
        children[e.toId()].append(e.fromId())
    return nodes, parents, children, owner


def sql_counters(spark, first_exec: int, last_exec: int) -> dict[str, float]:
    """Sum SQL metrics over executions in ``(first_exec, last_exec]``.

    A cached subtree appears once per reader in the plan graph with the
    same accumulators, so each accumulator is counted once.
    """
    store = _sql_store(spark)
    out: dict[str, float] = defaultdict(float)
    seen: set[int] = set()
    for exec_id in range(first_exec + 1, last_exec + 1):
        try:
            values = store.executionMetrics(exec_id)
            nodes, parents, children, owner = _graph(store, exec_id)
        except Exception:  # execution evicted or never recorded
            continue

        def metric(node_id, name):
            for mname, acc in nodes[node_id][2]:
                if mname == name:
                    v = values.get(acc)
                    return acc, (parse_metric(v.get()) if v.isDefined() else 0.0)
            return None, None

        def add(key, node_id, name):
            acc, v = metric(node_id, name)
            if acc is not None and acc not in seen:
                seen.add(acc)
                out[key] += v

        for nid, (name, desc, _) in nodes.items():
            if name.startswith("Scan "):
                add("io.scan_rows", nid, "number of output rows")
                add("io.scan_bytes", nid, "size of files read")
                add("io.scan_s", nid, "scan time")
            elif name == "Exchange":
                add("exec.shuffle_write_bytes", nid, "shuffle bytes written")
                add("exec.shuffle_read_bytes", nid, "local bytes read")
                add("exec.shuffle_read_bytes", nid, "remote bytes read")
            elif name == "BroadcastExchange":
                add("exec.broadcast_build_s", nid, "time to build")
            elif "InPandas" in name or "Python" in name or "Arrow" in name:
                add("arrow.bytes_to_python", nid, "data sent to Python workers")
                add("arrow.bytes_from_python", nid, "data returned from Python workers")
                add("arrow.rows_from_python", nid, "number of output rows")
                for child in children.get(nid, []):
                    add("arrow.rows_to_python", _rows_node(nodes, children, child), "number of output rows")
            if "spill size" in (m for m, _ in nodes[nid][2]):
                add("exec.spill_bytes", nid, "spill size")
            if "Join" in name and _CANDIDATE_KEYS.search(desc):
                for child in children.get(nid, []):
                    add("shingles.join_rows_in", _rows_node(nodes, children, child), "number of output rows")
                if nid in owner:  # task time of the fused stage that runs the join
                    add("shingles.join_s", owner[nid], "duration")
                agg = _final_pair_agg(nodes, parents, nid)
                if agg is not None:
                    add("shingles.cand_pairs", agg, "number of output rows")
                    gate = parents.get(agg)
                    if gate is not None and nodes[gate][0] == "Filter":
                        add("shingles.result_pairs", gate, "number of output rows")
    return dict(out)


def _rows_node(nodes, children, nid):
    """The nearest node at or below ``nid`` that counts output rows."""
    while not any(m == "number of output rows" for m, _ in nodes[nid][2]):
        kids = children.get(nid, [])
        if not kids:
            return nid
        nid = kids[0]
    return nid


def _final_pair_agg(nodes, parents, nid):
    """The first non-partial aggregate above the candidate join: its
    output rows are the distinct candidate pairs."""
    while nid in parents:
        nid = parents[nid]
        name, desc, _ = nodes[nid]
        if name == "HashAggregate" and "partial_" not in desc:
            return nid
    return None


def executor_totals(spark) -> dict[str, float]:
    """Cumulative task totals over every executor (a single one in local
    mode); callers difference two readings."""
    execs = spark.sparkContext._jsc.sc().statusStore().executorList(False)
    t = defaultdict(float)
    for i in range(execs.size()):
        x = execs.apply(i)
        t["exec.tasks"] += x.totalTasks()
        t["exec.task_busy_s"] += x.totalDuration() / 1000.0
        t["exec.gc_s"] += x.totalGCTime() / 1000.0
    return dict(t)


def storage_bytes(spark) -> int:
    """Memory plus disk bytes held by persisted RDDs (the pins)."""
    rdds = spark.sparkContext._jsc.sc().statusStore().rddList(True)
    return sum(rdds.apply(i).memoryUsed() + rdds.apply(i).diskUsed() for i in range(rdds.size()))
