#!/bin/bash
# Print the registry/alias counts quoted in README.md and SURVEY.md.
# These numbers must never be hand-edited into docs — run this instead.
set -e
cd "$(dirname "$0")/.."
CP="target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
java -cp "$CP" graft.Tools registry
