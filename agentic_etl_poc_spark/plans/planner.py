"""NL -> YAML plan adapter — the reference's "agentic" entry point (EP2).

Reference behavior being re-expressed (etl_agent/agents.py:24-33 planner
agent; etl_agent/runtime.py:15-27 routing): a natural-language ETL request
is converted to strict YAML with keys ``limits, source, transform, load,
checks, verify, alerts`` and then executed through the exact same
``run_from_plan`` path as a hand-written plan.  The YAML contract is the
correctness boundary; the planner is just a front-end.

Two planners behind one function:

- **Injected LLM** — ``plan_from_prompt(text, llm=...)`` where ``llm`` is
  any callable ``(system_prompt, user_prompt) -> str``.  Nothing here
  talks to a network; the caller owns credentials/transport.  Fenced or
  heredoc-wrapped output is stripped the same way user-typed plans are.
- **Deterministic offline planner** (default) — a rule-based grammar for
  the reference's documented prompt format (the ``Source:/Query:/
  Transform:/Load:/Checks:/Verify:/Alerts:`` lines its greeting teaches,
  reference etl_agent/agents.py:5-21).  Reproducible, so the NL path is
  testable without any model; NL it cannot ground deterministically (e.g.
  "clean data; aggregate numeric columns") raises with a message saying
  an LLM callable is required for free-form requests.
"""

from __future__ import annotations

import re
from collections.abc import Callable
from typing import Any

import yaml

from agentic_etl_poc_spark.plans.parser import load_yaml, strip_wrappers

#: System prompt for an injected LLM planner — same contract the reference
#: gives its planner agent (etl_agent/agents.py:24-33), restated.
PLANNER_SYSTEM = (
    "Convert the user's natural-language ETL request into strict YAML with "
    "keys: limits, source, transform, load, checks, verify, alerts. "
    "Always include limits.max_input_bytes (default 1073741824) unless the "
    "user specifies otherwise. For CSV triplets use "
    "source.csv.paths.{sales,features,stores}. For API sources put query "
    "params under source.api.params and the rows selector in "
    "source.api.json_path. For CSV output set load.to=csv and "
    "load.file_path; for Postgres set load.conn_str and load.table. "
    "Use $ENV placeholders for secrets. Return ONLY YAML (no backticks)."
)

_SECTION_RE = re.compile(
    r"^(source|query|transform|load|checks|verify|alerts|limits)\s*:\s*(.*)$",
    re.IGNORECASE,
)

_SQL_START = ("select", "with")


def _split_sections(text: str) -> dict[str, str]:
    """Split the prompt into named sections: a section header is a known
    keyword at column 0; everything until the next header belongs to it."""
    sections: dict[str, list[str]] = {}
    current: list[str] | None = None
    for line in text.splitlines():
        m = _SECTION_RE.match(line)
        if m:
            name = m.group(1).lower()
            current = sections.setdefault(name, [])
            if m.group(2).strip():
                current.append(m.group(2).strip())
        elif current is not None:
            current.append(line.strip())
    return {k: "\n".join(v).strip() for k, v in sections.items()}


def _parse_kv(text: str) -> dict[str, Any]:
    """Parse ``k=v, k2=[a,b], k3=v3`` pairs (the greeting's inline syntax).
    Commas inside [...] belong to the list, not the pair separator."""
    out: dict[str, Any] = {}
    for part in re.split(r",(?![^\[]*\])", text):
        part = part.strip()
        if not part or "=" not in part:
            continue
        k, v = part.split("=", 1)
        # Inline comments start at a WHITESPACE-preceded '#' (common
        # config-parser convention) — a bare '#' inside a value
        # (password in a conn_str, URL fragment, '#fff') is data.
        k, v = k.strip(), re.split(r"\s+#", v, maxsplit=1)[0].strip()
        if v.startswith("[") and v.endswith("]"):
            out[k] = [x.strip() for x in v[1:-1].split(",") if x.strip()]
        elif re.fullmatch(r"-?\d+", v):
            out[k] = int(v)
        else:
            out[k] = v
    return out


def _plan_source(src_text: str, query: str) -> dict[str, Any]:
    words = src_text.split(None, 1)
    kind = words[0].lower().rstrip(",") if words else "auto"
    kv = _parse_kv(words[1] if len(words) > 1 else "")
    if kind in ("db", "database", "postgres"):
        return {"kind": "db", "db": {"conn_str": kv.get("conn_str", ""), "query": query}}
    if kind == "api":
        api = {"url": kv.get("url", "")}
        if "json_path" in kv:
            api["json_path"] = kv["json_path"]
        params = {k: v for k, v in kv.items() if k not in ("url", "json_path")}
        if params:
            api["params"] = params
        return {"kind": "api", "api": api}
    if kind == "parquet":
        return {"kind": "parquet", "parquet": {"path": kv.get("path", "")}}
    if kind == "json":
        j = {"path": kv.get("path", "")}
        if "json_path" in kv:
            j["json_path"] = kv["json_path"]
        return {"kind": "json", "json": j}
    if kind == "csv":
        if "path" in kv and len(kv) == 1:
            return {"kind": "csv", "csv": {"path": kv["path"]}}
        paths = {k: v for k, v in kv.items() if isinstance(v, str)}
        if paths:
            return {"kind": "csv", "csv": {"paths": paths}}
        return {"kind": "csv", "csv": {}}
    # no explicit kind keyword: infer from the kv pairs themselves
    kv = _parse_kv(src_text)
    if "conn_str" in kv:
        return {"kind": "db", "db": {"conn_str": kv["conn_str"], "query": query}}
    if "url" in kv:
        return {"kind": "api", "api": {"url": kv["url"]}}
    raise ValueError(f"offline planner: cannot infer source from {src_text!r}")


def offline_plan(text: str) -> dict[str, Any]:
    """Deterministic NL -> plan-dict for the reference's prompt grammar."""
    sec = _split_sections(text)
    if "source" not in sec:
        raise ValueError(
            "offline planner: prompt has no 'Source:' line; free-form NL "
            "planning requires an injected LLM callable "
            "(plan_from_prompt(text, llm=...))"
        )
    plan: dict[str, Any] = {
        "limits": {"max_input_bytes": 1073741824},
        "source": _plan_source(sec["source"], sec.get("query", "")),
    }
    if "limits" in sec:
        plan["limits"].update(_parse_kv(sec["limits"].replace(":", "=")))
    tf = sec.get("transform", "")
    if tf:
        if tf.split(None, 1)[0].lower() in _SQL_START:
            plan["transform"] = {"sql": tf}
        else:
            raise ValueError(
                "offline planner: free-form transform "
                f"{tf[:60]!r} cannot be grounded deterministically; pass "
                "SQL in the Transform: section or inject an LLM planner"
            )
    if "load" in sec:
        kv = _parse_kv(sec["load"])
        load: dict[str, Any] = {}
        if "file_path" in kv or kv.get("to") == "csv":
            load["to"] = "csv"
            load["file_path"] = kv.get("file_path", "")
            if "include_header" in kv:
                load["include_header"] = str(kv["include_header"]).lower() != "false"
        else:
            load["to"] = str(kv.get("to", "postgres"))
            if "conn_str" in kv:
                load["conn_str"] = kv["conn_str"]
            if "table" in kv:
                load["table"] = kv["table"]
        if "mode" in kv:
            load["mode"] = kv["mode"]
        plan["load"] = load
    if "checks" in sec:
        plan["checks"] = _parse_kv(sec["checks"])
    if "verify" in sec:
        plan["verify"] = _parse_kv(sec["verify"])
    if sec.get("alerts"):
        plan["alerts"] = _parse_kv(sec["alerts"])
    return plan


def plan_from_prompt(
    text: str, llm: Callable[[str, str], str] | None = None
) -> str:
    """NL request -> YAML plan string (the planner contract, EP2).

    With ``llm`` given, the callable produces the YAML (fences stripped,
    then validated as a YAML mapping).  Without it, the deterministic
    offline grammar above produces it.
    """
    if llm is not None:
        raw = strip_wrappers(llm(PLANNER_SYSTEM, text))
        doc = load_yaml(raw)
        if not isinstance(doc, dict):
            raise ValueError("LLM planner did not return a YAML mapping")
        return raw
    return yaml.safe_dump(offline_plan(text), sort_keys=False)
