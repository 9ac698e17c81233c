"""The closed-loop client: each connection sends its next statement only
after ReadyForQuery for the previous one, as psql and BI clients do."""

from __future__ import annotations

import threading
import time
from dataclasses import dataclass, field

from check import digest


@dataclass
class Op:
    """One statement: sent at ``t0``, ReadyForQuery at ``t1``, both on
    the system-wide monotonic clock the server processes also read."""

    kind: str
    key: str
    conn: int
    pid: int  # BackendKeyData pid of the connection
    ordinal: int
    t0: float
    t1: float
    rows: int = 0
    cols: int = 0
    bytes_in: int = 0
    digest: str = ""
    error: str | None = None
    wrong: bool = False
    stmt: object = None  # the generated statement (COPY FROM batches are re-read)

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1000.0

    @property
    def failed(self) -> bool:
        return self.error is not None or self.wrong

    @property
    def request_id(self) -> str:
        return f"{self.pid}.{self.ordinal}"


@dataclass
class Answers:
    """The payload of the first answer to each distinct statement, plus
    every later answer whose digest differs from it, for the check
    after the timed loop."""

    first: dict = field(default_factory=dict)  # key -> (stmt, columns, rows, digest)
    odd: list = field(default_factory=list)  # (op, stmt, columns, rows)
    lock: threading.Lock = field(default_factory=threading.Lock)


class Session:
    """One connection and the rest of its statement sequence; the
    sequence continues across loops (warm pass excluded)."""

    def __init__(self, idx: int, conn, stmts):
        self.idx, self.conn = idx, conn
        self.stmts = iter(enumerate(stmts))
        self.broken = False  # the connection failed mid-statement


def execute(conn, stmt):
    if stmt.params:
        return conn.prepared(stmt.sql, list(stmt.params), [20] * len(stmt.params))
    return conn.query(stmt.sql, stmt.copy_data)


def _one(sess: Session, ordinal: int, stmt, answers: Answers) -> Op:
    t0 = time.monotonic()
    try:
        res = execute(sess.conn, stmt)
    except Exception as e:  # noqa: BLE001 — a broken session is a failed op
        sess.broken = True
        return Op(stmt.kind, stmt.key, sess.idx, sess.conn.backend_pid, ordinal,
                  t0, time.monotonic(), error=f"{type(e).__name__}: {e}", stmt=stmt)
    t1 = time.monotonic()
    op = Op(stmt.kind, stmt.key, sess.idx, sess.conn.backend_pid, ordinal, t0, t1,
            rows=len(res.rows), cols=len(res.columns), bytes_in=res.bytes_in,
            error=res.error, stmt=stmt)
    if stmt.kind == "copy_in":
        op.rows = stmt.copy_rows
        op.wrong = res.error is None and res.tag != f"COPY {stmt.copy_rows}"
    elif res.error is None:
        op.digest = digest(res.rows)
        with answers.lock:
            first = answers.first.get(stmt.key)
            if first is None:
                answers.first[stmt.key] = (stmt, res.columns, res.rows, op.digest)
            elif first[3] != op.digest:
                answers.odd.append((op, stmt, res.columns, res.rows))
    return op


def run_fixed(sessions: list[Session], stmts_per_session, answers: Answers) -> list[Op]:
    """Run a fixed list of statements per session (the warm pass),
    all sessions concurrently."""
    ops: list[Op] = []

    def go(sess, stmts):
        for i, s in enumerate(stmts):
            ops.append(_one(sess, -1 - i, s, answers))

    threads = [threading.Thread(target=go, args=a, daemon=True)
               for a in zip(sessions, stmts_per_session)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(170)
    return ops


def run_timed(sessions: list[Session], seconds: float, answers: Answers,
              deck: int) -> tuple[list[Op], float]:
    """Closed loop on every session: whole decks of ``deck`` statements
    until ``seconds`` have passed — a deck begun before the deadline
    completes and counts, so every session runs each kind in the deck's
    proportions. Returns (ops, loop start)."""
    ops: list[Op] = []
    go = threading.Event()
    box = {}

    def worker(sess: Session) -> None:
        go.wait()
        n = 0
        while n % deck or time.monotonic() < box["deadline"]:
            nxt = next(sess.stmts, None)
            if nxt is None:
                return
            ops.append(_one(sess, nxt[0], nxt[1], answers))
            n += 1
            if sess.broken:
                return  # its failure is counted; the protocol state is lost

    threads = [threading.Thread(target=worker, args=(s,), daemon=True) for s in sessions]
    for t in threads:
        t.start()
    start = time.monotonic()
    box["deadline"] = start + seconds
    go.set()
    for t in threads:
        t.join(170)
    return ops, start
