"""Run ledger — persistent run history (driver-side metadata, not data plane).

The reference ships this as intentioned-but-unwired SQLite code
(reference: etl_agent/memory.py:12-71, never imported by any execution
path — SURVEY §0).  Here it is wired: ``runtime.run_from_plan`` callers can
record runs via ``RunLedger``; the CLI enables it with
``ETL_AGENT_LEDGER=path.db``.

Schema kept compatible: runs(run_id, started_at, ended_at, prompt,
prompt_hash, plan_yaml, status, rows_written, dq_json, verify_json, error)
plus a key/value state table.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import json
import sqlite3
import uuid


class RunLedger:
    def __init__(self, path: str = "etl_runs.db") -> None:
        self.path = path
        con = self._con()
        with con:
            con.execute(
                """CREATE TABLE IF NOT EXISTS etl_agent_runs (
                    run_id TEXT PRIMARY KEY,
                    started_at TEXT, ended_at TEXT,
                    prompt TEXT, prompt_hash TEXT, plan_yaml TEXT,
                    status TEXT, rows_written INTEGER,
                    dq_json TEXT, verify_json TEXT, error TEXT)"""
            )
            con.execute(
                """CREATE TABLE IF NOT EXISTS etl_agent_state (
                    key TEXT PRIMARY KEY, value_json TEXT)"""
            )
        con.close()

    def _con(self) -> sqlite3.Connection:
        return sqlite3.connect(self.path)

    def start_run(self, prompt: str, plan_yaml: str = "") -> str:
        run_id = uuid.uuid4().hex
        con = self._con()
        with con:
            con.execute(
                "INSERT INTO etl_agent_runs (run_id, started_at, prompt, "
                "prompt_hash, plan_yaml, status) VALUES (?,?,?,?,?,?)",
                (
                    run_id,
                    _dt.datetime.now(_dt.timezone.utc).isoformat(),
                    prompt,
                    hashlib.sha256(prompt.encode()).hexdigest(),
                    plan_yaml,
                    "running",
                ),
            )
        con.close()
        return run_id

    def finish_run(self, run_id: str, result: dict) -> None:
        con = self._con()
        with con:
            con.execute(
                "UPDATE etl_agent_runs SET ended_at=?, status=?, rows_written=?, "
                "dq_json=?, verify_json=?, error=? WHERE run_id=?",
                (
                    _dt.datetime.now(_dt.timezone.utc).isoformat(),
                    result.get("status", "unknown"),
                    (result.get("dq") or {}).get("rows"),
                    json.dumps(result.get("dq")) if result.get("dq") else None,
                    json.dumps(result.get("verify")) if result.get("verify") else None,
                    result.get("error"),
                    run_id,
                ),
            )
        con.close()

    def set_state(self, key: str, value) -> None:
        con = self._con()
        with con:
            con.execute(
                "INSERT INTO etl_agent_state (key, value_json) VALUES (?,?) "
                "ON CONFLICT(key) DO UPDATE SET value_json=excluded.value_json",
                (key, json.dumps(value)),
            )
        con.close()

    def get_state(self, key: str, default=None):
        con = self._con()
        row = con.execute(
            "SELECT value_json FROM etl_agent_state WHERE key=?", (key,)
        ).fetchone()
        con.close()
        return json.loads(row[0]) if row else default

    def runs(self, limit: int = 50) -> list[dict]:
        con = self._con()
        con.row_factory = sqlite3.Row
        rows = con.execute(
            "SELECT * FROM etl_agent_runs ORDER BY started_at DESC LIMIT ?",
            (limit,),
        ).fetchall()
        con.close()
        return [dict(r) for r in rows]
