"""Output checks, on values already collected from Spark. Each returns a
list of problems; an empty list means the op's output is correct. Pure
Python, so the tests can feed them corrupted results without a session."""

from __future__ import annotations


def check_build(
    n_triple_rows: int, sum_support: int, n_failed_rows: int, resume_todo: int
) -> list[str]:
    """kg_build: every checkpointed triple row lands in exactly one
    canonical triple's support, inference flagged no failed rows, and a
    resume over the committed output recomputes no partition."""
    problems = []
    if n_triple_rows <= 0:
        problems.append("checkpointed triples stage is empty")
    if sum_support != n_triple_rows:
        problems.append(
            f"sum(n_support) of the canonical store is {sum_support}, "
            f"checkpointed triple rows are {n_triple_rows}"
        )
    if n_failed_rows:
        problems.append(f"inference flagged {n_failed_rows} _failed rows")
    if resume_todo:
        problems.append(f"resume recomputed {resume_todo} committed partitions")
    return problems


def check_same(what: str, got: list[tuple], want: list[tuple]) -> list[str]:
    """Equal as multisets of rows; reports at most three differing rows."""
    got_s, want_s = sorted(got), sorted(want)
    if got_s == want_s:
        return [] if want_s else [f"{what}: both results are empty"]
    extra = sorted(set(got_s) - set(want_s))[:3]
    missing = sorted(set(want_s) - set(got_s))[:3]
    return [
        f"{what}: {len(got_s)} rows vs {len(want_s)} expected; "
        f"unexpected {extra}, missing {missing}"
    ]


def components_reference(edges: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """(entity, component) of the undirected graph by union-find, the
    component id being its smallest member (the kg_components contract)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for s, d in edges:
        parent.setdefault(s, s)
        parent.setdefault(d, d)
        a, b = find(s), find(d)
        if a != b:
            parent[max(a, b)] = min(a, b)
    return [(e, find(e)) for e in parent]


def oracle_rows(rows: list[tuple]) -> list[tuple]:
    """Rows in the comparable form the registry's gate uses: every value a
    string, floats to ten significant digits, NULL as ``~``; sorted."""
    return sorted(
        tuple("~" if v is None else (f"{v:.10g}" if isinstance(v, float) else str(v))
              for v in row)
        for row in rows
    )


PAGERANK_SCALE = 1_000_000
PAGERANK_DAMPING_NUM = 85


def pagerank_reference(
    edges: list[tuple[str, str]], iterations: int = 3
) -> list[tuple[str, int]]:
    """(entity, rank_q) of fixed-iteration PageRank in scaled integers, as
    ``kg.pagerank_quantized`` defines it: self-loops dropped, duplicate
    edges counted once, rank_0 = scale, each iteration
    rank(n) = (15 * scale) // 100 + (85 * sum(rank(src) // out_deg(src))) // 100."""
    nodes = {e for edge in edges for e in edge}
    distinct = {(s, d) for s, d in edges if s != d}
    out_deg: dict[str, int] = {}
    for s, _ in distinct:
        out_deg[s] = out_deg.get(s, 0) + 1
    base = ((100 - PAGERANK_DAMPING_NUM) * PAGERANK_SCALE) // 100
    rank = dict.fromkeys(nodes, PAGERANK_SCALE)
    for _ in range(iterations):
        contrib: dict[str, int] = {}
        for s, d in distinct:
            contrib[d] = contrib.get(d, 0) + rank[s] // out_deg[s]
        rank = {n: base + (PAGERANK_DAMPING_NUM * contrib.get(n, 0)) // 100 for n in nodes}
    return list(rank.items())

