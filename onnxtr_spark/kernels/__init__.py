"""Pure-NumPy kernels whose math must match the reference exactly.

Each module cites the reference implementation it re-derives
(path:line into /root/reference). No Spark imports here — these run
inside the Arrow stages on executors and in plain pytest.
"""
