"""A minimal MySQL text-protocol client for the benchmark.

No MySQL client library is assumed: this speaks just enough of the public
client/server protocol (handshake v10 response, COM_QUERY, text resultsets
with CLIENT_DEPRECATE_EOF, OK and ERR packets) to drive a server one
statement at a time.  ``query`` times each statement from the send of the
COM_QUERY packet to the final OK or EOF packet of its reply; an ERR packet,
whether it replaces the reply or ends a resultset early, marks the
statement failed.
"""

from __future__ import annotations

import socket
import struct
import time
from dataclasses import dataclass, field

CLIENT_PROTOCOL_41 = 0x0200
CLIENT_DEPRECATE_EOF = 0x0100_0000
COM_QUIT = 0x01
COM_QUERY = 0x03
_MAX_FRAME = 0xFFFFFF


@dataclass
class Reply:
    """One statement's outcome: ``rows`` hold text cells (None for NULL)."""

    ok: bool
    seconds: float
    columns: list[str] = field(default_factory=list)
    rows: list[tuple] = field(default_factory=list)
    error: str | None = None


def _lenenc(buf: bytes, pos: int) -> tuple[int | None, int]:
    """(value, next position); value None for the NULL marker 0xFB."""
    b0 = buf[pos]
    if b0 < 0xFB:
        return b0, pos + 1
    if b0 == 0xFB:
        return None, pos + 1
    if b0 == 0xFC:
        return struct.unpack_from("<H", buf, pos + 1)[0], pos + 3
    if b0 == 0xFD:
        return int.from_bytes(buf[pos + 1:pos + 4], "little"), pos + 4
    return struct.unpack_from("<Q", buf, pos + 1)[0], pos + 9


class WireClient:
    """One connection; ``query`` is a closed loop (send, then read the
    whole reply)."""

    CAPS = CLIENT_PROTOCOL_41 | CLIENT_DEPRECATE_EOF

    def __init__(self, port: int, host: str = "127.0.0.1",
                 timeout: float = 170.0):
        self.sock = socket.create_connection((host, port), timeout=timeout)
        seq, greeting = self._read()
        if greeting[0] != 0x0A:
            raise ConnectionError(f"unexpected handshake version {greeting[0]}")
        response = (
            struct.pack("<I", self.CAPS)
            + struct.pack("<I", _MAX_FRAME)
            + bytes([33])          # utf8_general_ci
            + b"\x00" * 23
            + b"bench\x00"         # user
            + b"\x00"              # empty auth response
        )
        self._write(seq + 1, response)
        _, ok = self._read()
        if ok[0] != 0x00:
            raise ConnectionError("handshake refused")

    # -- framing ---------------------------------------------------------------
    def _recv(self, n: int) -> bytes:
        chunks, got = [], 0
        while got < n:
            chunk = self.sock.recv(n - got)
            if not chunk:
                raise ConnectionError("server closed the connection")
            chunks.append(chunk)
            got += len(chunk)
        return b"".join(chunks)

    def _read(self) -> tuple[int, bytes]:
        """One logical packet (reassembles max-size continuation frames)."""
        parts = []
        while True:
            header = self._recv(4)
            length = int.from_bytes(header[:3], "little")
            parts.append(self._recv(length))
            if length < _MAX_FRAME:
                return header[3], b"".join(parts)

    def _write(self, seq: int, payload: bytes) -> None:
        offset = 0
        while True:
            chunk = payload[offset:offset + _MAX_FRAME]
            self.sock.sendall(struct.pack("<I", len(chunk))[:3]
                              + bytes([seq & 0xFF]) + chunk)
            seq += 1
            offset += len(chunk)
            if len(chunk) < _MAX_FRAME:
                return

    # -- commands ----------------------------------------------------------------
    def query(self, sql: str) -> Reply:
        t0 = time.perf_counter()
        self._write(0, bytes([COM_QUERY]) + sql.encode("utf-8"))
        _, first = self._read()
        if first[0] == 0xFF:
            return Reply(False, time.perf_counter() - t0,
                         error=first[9:].decode("utf-8", "replace"))
        if first[0] == 0x00:
            return Reply(True, time.perf_counter() - t0)
        ncols, _ = _lenenc(first, 0)
        columns = []
        for _ in range(ncols):
            _, col = self._read()
            pos = 0
            for _ in range(4):  # catalog, schema, table, org_table
                n, pos = _lenenc(col, pos)
                pos += n
            n, pos = _lenenc(col, pos)
            columns.append(col[pos:pos + n].decode())
        rows = []
        while True:
            _, pkt = self._read()
            if pkt[0] == 0xFE and len(pkt) < 9:  # OK packet ending the set
                return Reply(True, time.perf_counter() - t0, columns, rows)
            if pkt[0] == 0xFF:
                return Reply(False, time.perf_counter() - t0, columns, rows,
                             error=pkt[9:].decode("utf-8", "replace"))
            cells, pos = [], 0
            while pos < len(pkt):
                n, pos = _lenenc(pkt, pos)
                if n is None:
                    cells.append(None)
                else:
                    cells.append(pkt[pos:pos + n].decode("utf-8"))
                    pos += n
            rows.append(tuple(cells))

    def close(self) -> None:
        try:
            self._write(0, bytes([COM_QUIT]))
        except OSError:
            pass
        self.sock.close()
