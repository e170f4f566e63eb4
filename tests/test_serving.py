"""Tool-serving layer tests: the reference MCP tool surface
(mcp/server.py:118-371) over the Telegram export fixture — validation
bounds, JSON-serializability, and plan-level cluster aggregation."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from terrorblade_spark.api import TerrorbladeSpark
from terrorblade_spark.serving import PROMPTS, TOOL_SPECS, ToolDispatcher

FIXTURE = "/root/repo/tests/data/export.json"


@pytest.fixture(scope="module")
def dispatcher(spark):
    t = TerrorbladeSpark.from_telegram_export(spark, FIXTURE, min_messages=1)
    t.compute_clusters(time_window="12h", semantic_threshold=2.0, cluster_size=1)
    t.embeddings = (
        t.messages.select(
            "message_id",
            "chat_id",
            __import__(
                "terrorblade_spark.functions.embed", fromlist=["embed_text"]
            ).embed_text()(F.col("text")).alias("embeddings"),
        ).persist()
    )
    t.messages = t.messages.persist()
    t.clusters = t.clusters.persist()
    return ToolDispatcher(t)


def test_tool_specs_cover_reference_surface(dispatcher):
    names = {s["name"] for s in dispatcher.list_tools()}
    assert names == {
        "vector_search", "cluster_search", "get_cluster",
        "random_large_cluster", "text_search", "hybrid_search",
    }
    # every spec is valid JSON schema-shaped and serializable
    json.dumps(TOOL_SPECS)


def test_vector_search_rows_and_stats(dispatcher):
    out = dispatcher.call("vector_search", query="hello world", top_k=5)
    assert set(out) == {"results", "stats"}
    assert len(out["results"]) <= 5
    assert out["stats"]["n_messages"] > 0
    json.dumps(out)  # dates stringified, everything serializable
    sims = [r["cosine_sim"] for r in out["results"]]
    assert sims == sorted(sims, reverse=True)


def test_vector_search_validation(dispatcher):
    with pytest.raises(ValueError):
        dispatcher.call("vector_search", query="", top_k=5)
    with pytest.raises(ValueError):
        dispatcher.call("vector_search", query="x", top_k=0)
    with pytest.raises(ValueError):
        dispatcher.call("vector_search", query="x", similarity_threshold=1.5)
    with pytest.raises(KeyError):
        dispatcher.call("no_such_tool")


def test_cluster_search_one_row_per_cluster(dispatcher):
    out = dispatcher.call("cluster_search", query="hello", top_k=50, max_clusters=3)
    assert len(out) <= 3
    keys = {(r["chat_id"], r["group_id"]) for r in out}
    assert len(keys) == len(out)  # one row per cluster
    assert all(r["hits"] >= 1 and r["snippet"] for r in out)
    sims = [r["best_similarity"] for r in out]
    assert sims == sorted(sims, reverse=True)
    json.dumps(out)


def test_get_cluster_roundtrip(dispatcher):
    c = dispatcher.tb.get_large_clusters(min_size=2).collect()[0]
    rows = dispatcher.call("get_cluster", chat_id=c["chat_id"], group_id=c["group_id"])
    assert len(rows) == c["n_messages"]
    dates = [r["date"] for r in rows]
    assert dates == sorted(dates)
    json.dumps(rows)


def test_random_large_cluster_deterministic(dispatcher):
    a = dispatcher.call("random_large_cluster", min_size=2, seed="s1")
    b = dispatcher.call("random_large_cluster", min_size=2, seed="s1")
    assert a == b
    assert len(a) >= 2


def test_prompts_render(dispatcher):
    p1 = PROMPTS["vector_search_template"]("find the meetup")
    assert "find the meetup" in p1
    p2 = PROMPTS["cluster_summary_template"]("Chat A", ">>> hi")
    assert "Chat A" in p2 and ">>> hi" in p2


def test_text_and_hybrid_search_tools(dispatcher):
    msgs = dispatcher.tb.messages
    row = msgs.where(F.length("text") > 20).first()
    term = max(row["text"].split(), key=len).lower().strip(".,!?")

    hits = dispatcher.call("text_search", query=term, top_k=5)
    assert hits and all(term in h["text"].lower() for h in hits)
    json.dumps(hits)  # JSON-serializable contract

    fused = dispatcher.call("hybrid_search", query=term, top_k=5)
    assert fused and all("rrf_score" in h for h in fused)
    json.dumps(fused)

    import pytest as _pt

    with _pt.raises(ValueError):
        dispatcher.call("text_search", query="  ")
    with _pt.raises(ValueError):
        dispatcher.call("hybrid_search", query="x", top_k=0)


def test_mcp_wrappers_match_tool_specs(monkeypatch):
    """``build_mcp_server`` binds one typed wrapper per TOOL_SPECS entry
    (FastMCP derives each tool's schema from it): each wrapper's
    parameters and defaults are the spec's, and a call with the spec
    defaults reaches a dispatcher handler that accepts its arguments.
    ``mcp`` is optional, so a stub stands in for FastMCP."""
    import inspect
    import sys
    import types

    from terrorblade_spark import serving

    class FastMCP:
        def __init__(self, name):
            self.tools = {}

        def add_tool(self, fn, name, description):
            self.tools[name] = fn

    fastmcp = types.ModuleType("mcp.server.fastmcp")
    fastmcp.FastMCP = FastMCP
    monkeypatch.setitem(sys.modules, "mcp", types.ModuleType("mcp"))
    monkeypatch.setitem(sys.modules, "mcp.server", types.ModuleType("mcp.server"))
    monkeypatch.setitem(sys.modules, "mcp.server.fastmcp", fastmcp)

    calls = []

    def call(self, name, **kwargs):
        # an argument the real handler does not take raises TypeError
        inspect.signature(getattr(serving.ToolDispatcher, f"_tool_{name}")).bind(
            self, **kwargs
        )
        calls.append((name, kwargs))

    monkeypatch.setattr(serving.ToolDispatcher, "call", call)
    server = serving.build_mcp_server(None)

    assert set(server.tools) == {s["name"] for s in TOOL_SPECS}
    given = {"query": "hello", "chat_id": 1, "group_id": 0}
    for spec in TOOL_SPECS:
        props = spec["parameters"]["properties"]
        params = inspect.signature(server.tools[spec["name"]]).parameters
        assert list(params) == list(props), spec["name"]
        defaults = {k: p["default"] for k, p in props.items() if "default" in p}
        assert {
            k: p.default for k, p in params.items() if p.default is not p.empty
        } == defaults, spec["name"]
        args = {k: given[k] for k in spec["parameters"]["required"]}
        server.tools[spec["name"]](**args)
        assert calls[-1] == (spec["name"], defaults | args)
