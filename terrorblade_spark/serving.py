"""Tool-serving surface: the reference MCP server's tools
(mcp/server.py:118-371) re-expressed over the Spark facade.

The reference binds four tools + two prompt templates to a FastMCP
process. Here the tool layer is framework-free — ``TOOL_SPECS`` is the
JSON-schema tool inventory and ``ToolDispatcher`` validates + executes
against a ``TerrorbladeSpark`` facade, returning JSON-serializable
rows. Any server shell (MCP, HTTP, a REPL) binds on top;
``build_mcp_server`` does the MCP binding when the ``mcp`` package is
installed (import-gated: the analytics never depend on it).

Design departures from the reference, on purpose:
- cluster aggregation (cluster_search) is a grouped DataFrame plan
  (max_by best hit per cluster), not a Python dict loop over collected
  rows (mcp/server.py:241-266) — the loop caps at driver memory, the
  plan doesn't;
- no per-call database open/close or index rebuild; the facade holds
  long-lived DataFrames, so a serving process reuses one SparkSession
  and its caches across calls.
"""

from __future__ import annotations

import datetime as _dt
from typing import Any, Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from terrorblade_spark.api import TerrorbladeSpark

# --- prompt templates (mcp/server.py:90-116) --------------------------------

PROMPTS: dict[str, Callable[..., str]] = {
    "vector_search_template": lambda query: (
        "You are assisting with semantic search over message history.\n"
        "Use the `vector_search` tool with the provided query to find the "
        "most relevant messages.\n"
        "Provide concise results with chat, author, date, similarity, and a "
        "compact snippet.\n\n"
        f"Query: {query}\n"
        "Return the top findings and any notable clusters."
    ),
    "cluster_summary_template": lambda chat_name, snippet: (
        "You are summarizing a conversation cluster.\n"
        f"Chat: {chat_name}\n"
        "Snippet (ordered by time, `>>>` marks the most relevant message):\n"
        f"{snippet}\n\n"
        "Write a brief summary covering: topic, participants, and outcome."
    ),
}

# --- tool inventory (names/params mirror mcp/server.py) ---------------------

TOOL_SPECS: list[dict[str, Any]] = [
    {
        "name": "vector_search",
        "description": "Semantic vector search over messages; returns the "
        "top-k hits with text, author, date, similarity, and cluster id.",
        "parameters": {
            "type": "object",
            "properties": {
                "query": {"type": "string"},
                "top_k": {"type": "integer", "default": 10, "minimum": 1, "maximum": 1000},
                "chat_id": {"type": ["integer", "null"], "default": None},
                "similarity_threshold": {
                    "type": "number",
                    "default": 0.0,
                    "minimum": 0.0,
                    "maximum": 1.0,
                },
            },
            "required": ["query"],
        },
    },
    {
        "name": "cluster_search",
        "description": "Find the most relevant conversation clusters for a "
        "query by aggregating top vector hits; one row per cluster with best "
        "similarity, hit count, and a snippet of the best hit.",
        "parameters": {
            "type": "object",
            "properties": {
                "query": {"type": "string"},
                "top_k": {"type": "integer", "default": 50, "minimum": 1, "maximum": 1000},
                "max_clusters": {"type": "integer", "default": 10, "minimum": 1, "maximum": 1000},
                "similarity_threshold": {
                    "type": "number",
                    "default": 0.0,
                    "minimum": 0.0,
                    "maximum": 1.0,
                },
            },
            "required": ["query"],
        },
    },
    {
        "name": "get_cluster",
        "description": "All messages of one cluster (chat_id, group_id), "
        "ordered by date.",
        "parameters": {
            "type": "object",
            "properties": {
                "chat_id": {"type": "integer"},
                "group_id": {"type": "integer", "minimum": 0},
            },
            "required": ["chat_id", "group_id"],
        },
    },
    {
        "name": "text_search",
        "description": "Lexical BM25 keyword search over message text — "
        "exact terms, names, and ids that embedding similarity smears out.",
        "parameters": {
            "type": "object",
            "properties": {
                "query": {"type": "string"},
                "top_k": {"type": "integer", "default": 10, "minimum": 1, "maximum": 1000},
            },
            "required": ["query"],
        },
    },
    {
        "name": "hybrid_search",
        "description": "Hybrid retrieval: BM25 and embedding-cosine top-k "
        "fused by reciprocal rank; robust to queries that only one "
        "retriever handles well.",
        "parameters": {
            "type": "object",
            "properties": {
                "query": {"type": "string"},
                "top_k": {"type": "integer", "default": 10, "minimum": 1, "maximum": 1000},
            },
            "required": ["query"],
        },
    },
    {
        "name": "random_large_cluster",
        "description": "A deterministic pseudo-random cluster with at least "
        "min_size messages; returns its full message list.",
        "parameters": {
            "type": "object",
            "properties": {
                "min_size": {"type": "integer", "default": 10, "minimum": 1},
                "seed": {"type": "string", "default": "v1"},
            },
            "required": [],
        },
    },
]


def _rows(df: DataFrame, limit: int | None = None) -> list[dict[str, Any]]:
    """Collect to JSON-serializable dicts (timestamps -> ISO strings)."""
    if limit is not None:
        df = df.limit(limit)
    out = []
    for row in df.collect():
        d = row.asDict(recursive=True)
        for k, v in d.items():
            if isinstance(v, (_dt.datetime, _dt.date)):
                d[k] = v.isoformat(sep=" ")
        out.append(d)
    return out


class ToolDispatcher:
    """Validates arguments against TOOL_SPECS bounds (the reference's
    explicit checks, mcp/server.py:140-147,205-206,288-289,335-336) and
    executes each tool as one facade plan."""

    def __init__(self, tb: TerrorbladeSpark):
        self.tb = tb

    def list_tools(self) -> list[dict[str, Any]]:
        return TOOL_SPECS

    def call(self, name: str, **kwargs: Any) -> Any:
        handler = getattr(self, f"_tool_{name}", None)
        if handler is None:
            raise KeyError(f"unknown tool {name!r}")
        return handler(**kwargs)

    # -- tools ---------------------------------------------------------------

    def _tool_vector_search(
        self,
        query: str,
        top_k: int = 10,
        chat_id: int | None = None,
        similarity_threshold: float = 0.0,
    ) -> dict[str, Any]:
        if not isinstance(query, str) or not query.strip():
            raise ValueError("query must be a non-empty string")
        if not 1 <= top_k <= 1000:
            raise ValueError("top_k must be in the range 1..1000")
        if not 0.0 <= similarity_threshold <= 1.0:
            raise ValueError("similarity_threshold must be between 0.0 and 1.0")
        # chat scoping happens INSIDE the search, before its top-k —
        # filtering the k global hits afterwards returns empty for any
        # chat whose best matches rank below them
        hits = self.tb.cluster_search(query, k=top_k, chat_id=chat_id)
        if similarity_threshold > 0.0:
            hits = hits.where(F.col("cosine_sim") >= similarity_threshold)
        stats = _rows(
            self.tb.messages.agg(
                F.count(F.lit(1)).alias("n_messages"),
                F.countDistinct("chat_id").alias("n_chats"),
            )
        )[0]
        return {"results": _rows(hits), "stats": stats}

    def _tool_cluster_search(
        self,
        query: str,
        top_k: int = 50,
        max_clusters: int = 10,
        similarity_threshold: float = 0.0,
    ) -> list[dict[str, Any]]:
        if not isinstance(query, str) or not query.strip():
            raise ValueError("query must be a non-empty string")
        if not 1 <= max_clusters <= 1000:
            raise ValueError("max_clusters must be in the range 1..1000")
        if not 1 <= top_k <= 1000:
            raise ValueError("top_k must be in the range 1..1000")
        if not 0.0 <= similarity_threshold <= 1.0:
            raise ValueError("similarity_threshold must be between 0.0 and 1.0")
        hits = self.tb.cluster_search(query, k=top_k).where(
            F.col("group_id").isNotNull() & (F.col("cosine_sim") >= similarity_threshold)
        )
        # grouped max_by plan replaces the reference's driver-side dict
        # fold (mcp/server.py:241-266)
        clusters = (
            hits.groupBy("chat_id", "group_id")
            .agg(
                F.max("cosine_sim").alias("best_similarity"),
                F.count(F.lit(1)).alias("hits"),
                F.expr("max_by(text, cosine_sim)").alias("snippet"),
            )
            .orderBy(F.desc("best_similarity"), F.desc("hits"), "chat_id", "group_id")
        )
        return _rows(clusters, limit=max_clusters)

    def _tool_get_cluster(self, chat_id: int, group_id: int) -> list[dict[str, Any]]:
        if group_id < 0:
            raise ValueError("group_id must be >= 0")
        return _rows(
            self.tb.get_cluster(chat_id, group_id).select(
                "message_id", "chat_id", "text", "from_id", "date"
            )
        )

    def _tool_text_search(self, query: str, top_k: int = 10) -> list[dict[str, Any]]:
        if not isinstance(query, str) or not query.strip():
            raise ValueError("query must be a non-empty string")
        if not 1 <= top_k <= 1000:
            raise ValueError("top_k must be in the range 1..1000")
        return _rows(self.tb.text_search(query, k=top_k))

    def _tool_hybrid_search(self, query: str, top_k: int = 10) -> list[dict[str, Any]]:
        if not isinstance(query, str) or not query.strip():
            raise ValueError("query must be a non-empty string")
        if not 1 <= top_k <= 1000:
            raise ValueError("top_k must be in the range 1..1000")
        return _rows(self.tb.hybrid_search(query, k=top_k))

    def _tool_random_large_cluster(
        self, min_size: int = 10, seed: str = "v1"
    ) -> list[dict[str, Any]]:
        if min_size <= 0:
            raise ValueError("min_size must be > 0")
        return _rows(
            self.tb.get_random_large_cluster(min_size=min_size, seed=seed).select(
                "message_id", "chat_id", "text", "from_id", "date", "group_id"
            )
        )


def build_mcp_server(tb: TerrorbladeSpark):
    """Bind the dispatcher to a FastMCP server if the ``mcp`` package is
    available (it is not in the engine's own dependency set)."""
    try:
        from mcp.server.fastmcp import FastMCP
    except ImportError as e:  # pragma: no cover - optional dependency
        raise NotImplementedError(
            "MCP serving requires the optional 'mcp' package; the tool "
            "layer itself is usable via ToolDispatcher without it"
        ) from e

    server = FastMCP("terrorblade-spark")
    d = ToolDispatcher(tb)

    # explicit signatures: FastMCP derives each tool's input schema by
    # introspection, so a **kwargs lambda (or an underscore-named
    # parameter) yields an unusable or rejected tool. One typed wrapper
    # per inventory entry keeps the schema faithful to TOOL_SPECS.
    def vector_search(query: str, top_k: int = 10, chat_id: int | None = None,
                      similarity_threshold: float = 0.0):
        return d.call("vector_search", query=query, top_k=top_k,
                      chat_id=chat_id, similarity_threshold=similarity_threshold)

    def cluster_search(query: str, top_k: int = 50, max_clusters: int = 10,
                       similarity_threshold: float = 0.0):
        return d.call("cluster_search", query=query, top_k=top_k,
                      max_clusters=max_clusters,
                      similarity_threshold=similarity_threshold)

    def get_cluster(chat_id: int, group_id: int):
        return d.call("get_cluster", chat_id=chat_id, group_id=group_id)

    def text_search(query: str, top_k: int = 10):
        return d.call("text_search", query=query, top_k=top_k)

    def hybrid_search(query: str, top_k: int = 10):
        return d.call("hybrid_search", query=query, top_k=top_k)

    def random_large_cluster(min_size: int = 10, seed: str = "v1"):
        return d.call("random_large_cluster", min_size=min_size, seed=seed)

    impls = {f.__name__: f for f in (
        vector_search, cluster_search, get_cluster, text_search,
        hybrid_search, random_large_cluster,
    )}
    for spec in TOOL_SPECS:
        server.add_tool(
            impls[spec["name"]], name=spec["name"], description=spec["description"]
        )
    try:
        from mcp.server.fastmcp.prompts import Prompt

        for pname, fn in PROMPTS.items():
            server.add_prompt(Prompt.from_function(fn, name=pname))
    except ImportError:  # pragma: no cover - older mcp layouts
        pass
    return server
