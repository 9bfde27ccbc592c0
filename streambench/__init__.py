"""Repository benchmark: live speech-to-text latency and the headline
batch pass, measured end to end and per layer. Entry point: run.py."""
