"""Dependency DAG over assignment targets + topological leveling.

Mirrors the reference's scheduling semantics
(``/root/reference/fame2pygen/fame2py_converter.py:40-93``): edges run
ref→target, self-references are ignored and Kahn's algorithm produces
parallel levels.  A dependency cycle is rejected with a
``FameScriptError`` naming its targets (the reference appends cycle
leftovers as a final level, whose statements then read columns that
do not exist yet).

This is driver-side planning only — at execution each level becomes one
batched ``withColumns`` projection, which Catalyst collapses; the DAG
never touches executors.
"""

from __future__ import annotations

from collections import defaultdict, deque

from ..parser.grammar import FameScriptError


def build_dependency_levels(
    nodes: dict[str, str], edges: dict[str, set[str]]
) -> list[list[str]]:
    """Topologically level *nodes* given dependency *edges*.

    Args:
        nodes: every assignment target (lowercase), in first-seen
            order, mapped to the FAME line of its first statement.
        edges: mapping dep → set(targets that consume dep).

    Returns:
        List of levels; each level is sorted for determinism.

    Raises:
        FameScriptError: the targets form a dependency cycle; the error
            carries the line of the cycle's first target in *nodes*.
    """
    in_degree: dict[str, int] = {n: 0 for n in nodes}
    adj: dict[str, list[str]] = defaultdict(list)
    for dep, consumers in edges.items():
        if dep not in in_degree:
            continue
        for consumer in sorted(consumers):
            if consumer in in_degree:
                adj[dep].append(consumer)
                in_degree[consumer] += 1

    levels: list[list[str]] = []
    queue = deque(sorted(n for n, d in in_degree.items() if d == 0))
    placed = 0
    while queue:
        level = sorted(queue)
        levels.append(level)
        placed += len(level)
        queue.clear()
        for node in level:
            for consumer in adj[node]:
                in_degree[consumer] -= 1
                if in_degree[consumer] == 0:
                    queue.append(consumer)

    if placed != len(nodes):
        # the unplaced nodes are the cycles plus what they feed; strip
        # the latter (nodes none of the others consume) to name the cycle
        stuck = {n for n, d in in_degree.items() if d > 0}
        while True:
            fed = {n for n in stuck if not any(c in stuck for c in adj[n])}
            if not fed:
                break
            stuck -= fed
        cycle = [n for n in nodes if n in stuck]
        raise FameScriptError(
            f"dependency cycle among {', '.join(cycle)}",
            nodes[cycle[0]],
        )
    return levels
