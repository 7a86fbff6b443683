"""Counting the py4j round trips a piece of driver code makes.

Every PySpark call that reaches the JVM (a DataFrame method, a
``functions`` lookup, a Column operator) is one command sent over the
py4j connection and one reply awaited; building a query plan is mostly
that latency. ``round_trips()`` counts those commands, so a test can
hold a build to a budget and a tool can report it next to plan sizes.
"""

from __future__ import annotations

import contextlib
import threading

import py4j.clientserver
import py4j.protocol as proto

# py4j sends this command when a Python-side proxy of a JVM object is
# garbage collected; when that happens follows the Python collector,
# not the code being measured
_MEMORY_RELEASE = proto.MEMORY_COMMAND_NAME + proto.MEMORY_DEL_SUBCOMMAND_NAME


class RoundTrips:
    count = 0


@contextlib.contextmanager
def round_trips():
    """Count the commands the calling thread sends to the JVM inside the
    block (``with round_trips() as n: ...; n.count``). Memory-release
    commands and commands sent from other threads are not counted.
    Spark's default pinned-thread mode talks through
    ``ClientServerConnection``, whose ``send_command`` is wrapped for
    the duration of the block."""
    conn = py4j.clientserver.ClientServerConnection
    send = conn.send_command
    caller = threading.get_ident()
    counter = RoundTrips()

    def counted(self, command, *args, **kwargs):
        if threading.get_ident() == caller and not command.startswith(_MEMORY_RELEASE):
            counter.count += 1
        return send(self, command, *args, **kwargs)

    conn.send_command = counted
    try:
        yield counter
    finally:
        conn.send_command = send
