#!/bin/bash
# Direct scalac (2.13.17 from the spark jars) for compiling single files
# into target/scala-2.13/classes without taking the sbt lock.
CLASSES="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)/target/scala-2.13/classes"
exec java -cp "/opt/spark/jars/scala-compiler-2.13.17.jar:/opt/spark/jars/scala-library-2.13.17.jar:/opt/spark/jars/scala-reflect-2.13.17.jar" \
  scala.tools.nsc.Main -classpath "$CLASSES:/opt/spark/jars/*" \
  -d "$CLASSES" "$@"
