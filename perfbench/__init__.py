"""The engine's benchmark; see README.md and run.py."""
