"""Pure logic of the benchmark harness: statistics, span accounting and
output digests. Nothing here starts a process or touches the disk."""
