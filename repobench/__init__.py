"""Repository benchmark: see README.md and run.py."""
