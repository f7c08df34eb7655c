"""Repository benchmark: forwarder drain/trickle and iterative dedup, end to end and per layer."""
