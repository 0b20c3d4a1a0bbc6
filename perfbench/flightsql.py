"""Client flows over stock pyarrow.flight, timed from the first RPC.

Flight SQL's protobuf envelopes are encoded by hand (pyarrow ships no
Flight SQL layer), the same way the engine's own wire smoke test
drives them. Every flow returns a Result with the table received, the
time to the first record batch and the RPC count.
"""
import time
from dataclasses import dataclass

import pyarrow as pa
from pyarrow import flight

SQL_NS = "type.googleapis.com/arrow.flight.protocol.sql."


def varint(n):
    out = b""
    while True:
        b7 = n & 0x7F
        n >>= 7
        out += bytes([b7 | (0x80 if n else 0)])
        if not n:
            return out


def pb_ld(field, payload):
    """One length-delimited protobuf field."""
    if isinstance(payload, str):
        payload = payload.encode()
    return varint(field << 3 | 2) + varint(len(payload)) + payload


def pb_fields(data):
    """Minimal decoder: field number -> last length-delimited value."""
    out, i = {}, 0

    def read_varint(i):
        v, shift = 0, 0
        while True:
            v |= (data[i] & 0x7F) << shift
            shift += 7
            i += 1
            if not data[i - 1] & 0x80:
                return v, i

    while i < len(data):
        tag, i = read_varint(i)
        wire = tag & 7
        if wire == 2:
            ln, i = read_varint(i)
            out[tag >> 3] = data[i:i + ln]
            i += ln
        elif wire == 0:
            _, i = read_varint(i)
        else:
            raise ValueError(f"unexpected wire type {wire}")
    return out


def any_cmd(name, body=b""):
    """A Flight SQL command wrapped in google.protobuf.Any."""
    return pb_ld(1, SQL_NS + name) + (pb_ld(2, body) if body else b"")


@dataclass
class Result:
    table: pa.Table
    start_ns: int
    first_batch_ns: int
    end_ns: int
    rpcs: int

    @property
    def latency_ms(self):
        return (self.end_ns - self.start_ns) / 1e6

    @property
    def ttfb_ms(self):
        return (self.first_batch_ns - self.start_ns) / 1e6


def _drain(reader):
    """Read every record batch; returns (table, first-batch time). The
    schema message is not a batch. A result with no batch has its first
    batch time at the end of the stream."""
    batches, first = [], None
    while True:
        try:
            chunk = reader.read_chunk()
        except StopIteration:
            break
        if first is None:
            first = time.monotonic_ns()
        batches.append(chunk.data)
    end = time.monotonic_ns()
    table = pa.Table.from_batches(batches, schema=reader.schema)
    return table, first or end, end


def _finish(start, reader, rpcs):
    table, first, end = _drain(reader)
    return Result(table, start, first, end, rpcs)


def direct(client, sql, opts=None):
    """The reference client's shape: the ticket is the SQL text."""
    start = time.monotonic_ns()
    reader = client.do_get(flight.Ticket(sql.encode()), opts)
    return _finish(start, reader, 1)


def two_step(client, sql, opts=None):
    """ADBC's GetFlightInfo(CommandStatementQuery) then DoGet."""
    start = time.monotonic_ns()
    desc = flight.FlightDescriptor.for_command(
        any_cmd("CommandStatementQuery", pb_ld(1, sql)))
    info = client.get_flight_info(desc, opts)
    reader = client.do_get(info.endpoints[0].ticket, opts)
    return _finish(start, reader, 2)


def prepared(client, sql, param, opts=None):
    """CreatePreparedStatement, DoPut bind of one int64 parameter,
    GetFlightInfo, DoGet; the handle is closed after the clock stops."""
    start = time.monotonic_ns()
    req = any_cmd("ActionCreatePreparedStatementRequest", pb_ld(1, sql))
    results = list(client.do_action(flight.Action("CreatePreparedStatement", req), opts))
    handle = pb_fields(pb_fields(results[0].body.to_pybytes())[2])[1]
    desc = flight.FlightDescriptor.for_command(
        any_cmd("CommandPreparedStatementQuery", pb_ld(1, handle)))
    params = pa.record_batch([pa.array([param], type=pa.int64())], names=["p1"])
    writer, _ = client.do_put(desc, params.schema, opts)
    writer.write_batch(params)
    writer.done_writing()
    writer.close()
    info = client.get_flight_info(desc, opts)
    reader = client.do_get(info.endpoints[0].ticket, opts)
    res = _finish(start, reader, 4)
    close = any_cmd("ActionClosePreparedStatementRequest", pb_ld(1, handle))
    list(client.do_action(flight.Action("ClosePreparedStatement", close), opts))
    res.rpcs += 1
    return res


def metadata(client, command, body=b"", opts=None):
    """A catalog metadata command: GetFlightInfo then DoGet."""
    start = time.monotonic_ns()
    info = client.get_flight_info(
        flight.FlightDescriptor.for_command(any_cmd(command, body)), opts)
    reader = client.do_get(info.endpoints[0].ticket, opts)
    return _finish(start, reader, 2)


def run(client, stmt, opts=None):
    """Dispatch one workload statement to its flow."""
    if stmt.kind == "direct":
        return direct(client, stmt.sql, opts)
    if stmt.kind == "twostep":
        return two_step(client, stmt.sql, opts)
    if stmt.kind == "prepared":
        return prepared(client, stmt.sql, stmt.param, opts)
    if stmt.kind == "metadata":
        return metadata(client, stmt.sql, stmt.body, opts)
    raise ValueError(f"unknown statement kind {stmt.kind}")
